"""Registry chunk: KG schema induction (AMIE rules) + round-6 additions.

Split out of plans/catalog_queries.py (round 7, registry maintenance —
VERDICT r6 #5) at the original section boundaries, content and
REGISTRATION ORDER unchanged: plans/catalog_queries.py imports every
chunk in the original file order, so ``REGISTRY`` iterates identically
and ``oracle_sql()`` emits byte-identical SQL. See catalog_queries.py
for the cross-engine determinism conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import Window  # noqa: F401

from cdrc_semantic_search_spark.functions import text as T  # noqa: F401
from cdrc_semantic_search_spark.functions import vector as V  # noqa: F401
from cdrc_semantic_search_spark.plans import value_oracles  # noqa: F401
from cdrc_semantic_search_spark.plans.catalog.graph import _ann_fixture  # noqa: F401
from cdrc_semantic_search_spark.plans.catalog._core import (  # noqa: F401
    _SQL_SW_DE,
    _SQL_SW_EN,
    _SQL_SW_ES,
    _SQL_SW_FR,
    _SQL_TOKS,
    QueryDef,
    REGISTRY,
    _dec_sum,
    load,
    register,
)

# KG schema induction (operators/rules.py) — AMIE-style rule mining
# =====================================================================

def _fixture_kg_edges(spark):
    """Shared loader: the fixture pipeline's materialized kg_edges rollup
    (the table the schema-induction queries run on in production)."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities)
    return pipe.kg_edges(pipe.triples(tdf))


@register("kg_rule_confidence", value_oracles.lazy("kg_rule_confidence"))
def kg_rule_confidence(spark, sf_dir):
    """AMIE-style composition rules p1(a,x) ∧ p2(x,c) ⇒ p3(a,c) with
    standard confidence over the fixture's kg_edges (operators/rules.
    composition_rules) — the schema-discovery mining step downstream of
    graph materialization. Twin: plain dict adjacency + set membership
    (value_oracles)."""
    from cdrc_semantic_search_spark.operators.rules import composition_rules

    return composition_rules(_fixture_kg_edges(spark)).select(
        "p1", "p2", "p3", "support", "body_pairs", "confidence"
    )


@register("kg_pred_functionality", value_oracles.lazy("kg_pred_functionality"))
def kg_pred_functionality(spark, sf_dir):
    """Per-predicate functionality profile (operators/rules.
    predicate_functionality): distinct fact/subject/object counts and
    the AMIE fun/inv-fun ratios — flags predicates safe to treat as
    canonical single-valued attributes."""
    from cdrc_semantic_search_spark.operators.rules import (
        predicate_functionality,
    )

    return predicate_functionality(_fixture_kg_edges(spark))


@register("kg_inverse_relations", value_oracles.lazy("kg_inverse_relations"))
def kg_inverse_relations(spark, sf_dir):
    """Inverse-predicate candidates (operators/rules.inverse_relations):
    (p1, p2) pairs scored by mirrored-fact overlap and inclusion–
    exclusion jaccard — the ontology-merge feed."""
    from cdrc_semantic_search_spark.operators.rules import inverse_relations

    return inverse_relations(_fixture_kg_edges(spark))


@register(
    "dedup_repeated_spans",
    """
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT doc_id + 10000, text FROM documents WHERE doc_id < 30
    ),
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM base
    ),
    spans AS (
        SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span
        FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
        WHERE len(t) >= 8
    )
    SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM spans GROUP BY span HAVING COUNT(*) >= 2
    """,
)
def dedup_repeated_spans(spark, sf_dir):
    """Span-level dedup (operators/dedup.repeated_spans): 8-token sliding
    windows occurring ≥2 times corpus-wide, with doc/occurrence counts —
    the Lee-et-al exact-substring shape (memorized spans come from
    repeated SPANS, not repeated documents). A shifted dup block
    guarantees cross-doc repeats at test scale; the synthetic corpus
    also repeats spans naturally. The oracle is pure SQL (token split +
    lateral window enumeration), so the whole pipeline — normalization,
    window extents, both counts — is value-hash-checked."""
    from cdrc_semantic_search_spark.operators.dedup import repeated_spans

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter("doc_id < 300").unionByName(
        d.filter("doc_id < 30").select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    return repeated_spans(base, "doc_id", "text", span_tokens=8, min_occurrences=2)


@register(
    "mix_drift_psi",
    """
    WITH a AS (SELECT source FROM documents WHERE doc_id % 2 = 0),
    b AS (SELECT source FROM documents WHERE doc_id % 2 = 1 AND source <> 'src0'),
    ca AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_a FROM a GROUP BY source),
    cb AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_b FROM b GROUP BY source),
    j AS (
        SELECT COALESCE(ca.source, cb.source) AS source,
               COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        FROM ca FULL OUTER JOIN cb ON ca.source = cb.source
    )
    SELECT source, n_a, n_b,
           ROUND(CAST(n_a AS DOUBLE) / (SELECT SUM(n_a) FROM ca), 6) AS p_a,
           ROUND(CAST(n_b AS DOUBLE) / (SELECT SUM(n_b) FROM cb), 6) AS p_b,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN
               (CAST(n_a AS DOUBLE) / (SELECT SUM(n_a) FROM ca)
                - CAST(n_b AS DOUBLE) / (SELECT SUM(n_b) FROM cb))
               * LN((CAST(n_a AS DOUBLE) / (SELECT SUM(n_a) FROM ca))
                    / (CAST(n_b AS DOUBLE) / (SELECT SUM(n_b) FROM cb)))
           END, 6) AS psi_term
    FROM j
    """,
)
def mix_drift_psi(spark, sf_dir):
    """Domain-mix drift monitor (operators/split.distribution_psi):
    PSI terms of the documents.source distribution between two
    deterministic snapshots (even vs odd doc_ids, with one source
    dropped from the second snapshot so the vanished-category NULL path
    is exercised). Integer counts divide identically on both engines;
    the single ln() is the BM25-class determinism budget (round 6)."""
    from cdrc_semantic_search_spark.operators.split import distribution_psi

    d = load(spark, sf_dir, "documents")
    a = d.filter("doc_id % 2 = 0")
    b = d.filter("doc_id % 2 = 1 AND source <> 'src0'")
    return distribution_psi(a, b, "source")


@register(
    "kg_rule_pca_confidence", value_oracles.lazy("kg_rule_pca_confidence")
)
def kg_rule_pca_confidence(spark, sf_dir):
    """AMIE PCA confidence (operators/rules.composition_rules_pca): the
    partial-completeness denominator counts only body pairs whose
    subject asserts SOME p3 fact — the incomplete-KB-aware ranking the
    AMIE paper advocates over standard confidence. Twin re-derives the
    subject-predicate presence sets in plain dicts."""
    from cdrc_semantic_search_spark.operators.rules import (
        composition_rules_pca,
    )

    return composition_rules_pca(_fixture_kg_edges(spark))


@register(
    "graph_khop_ball",
    """
    WITH e AS (
        SELECT DISTINCT LEAST(l_suppkey, 1000 + l_partkey % 100) AS a,
               GREATEST(l_suppkey, 1000 + l_partkey % 100) AS b
        FROM lineitem WHERE l_orderkey < 300
    ),
    sym AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
    two AS (
        SELECT v, u FROM sym
        UNION
        SELECT s1.v, s2.u FROM sym s1 JOIN sym s2 ON s1.u = s2.v
        WHERE s1.v <> s2.u
    )
    SELECT v AS id, CAST(COUNT(*) AS BIGINT) AS ball_size
    FROM two GROUP BY v
    """,
)
def graph_khop_ball(spark, sf_dir):
    """Exact 2-hop neighborhood sizes (operators/graph.khop_ball_sizes)
    over the shared supplier↔bucket fixture graph — the pointwise
    neighborhood function (HyperBall's target quantity, exact at
    small k). Oracle: UNION-distinct closure of one self-join."""
    from cdrc_semantic_search_spark.operators.graph import khop_ball_sizes

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    return khop_ball_sizes(edges, k=2)


@register("graph_hyperball", value_oracles.lazy("graph_hyperball"))
def graph_hyperball(spark, sf_dir):
    """HyperBall 2-hop ball-size estimates (operators/graph.
    hyperball_ball_estimates) over the shared supplier↔bucket graph —
    the O(|V|·registers) sketch path whose exact small-graph oracle is
    graph_khop_ball. Twin re-derives balls by BFS and the crc32
    register algebra + HLL estimator bit-for-bit (value_oracles)."""
    from cdrc_semantic_search_spark.operators.graph import (
        hyperball_ball_estimates,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    return hyperball_ball_estimates(edges, k=2)


@register("kg_linking_ambiguity", value_oracles.lazy("kg_linking_ambiguity"))
def kg_linking_ambiguity(spark, sf_dir):
    """Surface-form ambiguity profile over COLLECTIVE linking output:
    per normalized surface — mention/conversation counts, distinct
    final entities (context-free linking is a pure function of the
    surface, so any n_entities > 1 is coherence reranking at work), and
    the modal entity. The disambiguation-pressure dashboard a KG
    curator reads before tightening the linker. One groupBy(surface)
    over the linked mention stream; the mode is a max-of-struct
    aggregate, not a window sort."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    linked = KGPipeline(spark, fx.entities).collective_mentions(tdf)
    per_ent = linked.groupBy("surface", "entity_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_ent.join(
            linked.groupBy("surface").agg(
                F.count(F.lit(1)).alias("n_mentions"),
                F.count_distinct("conv_id").alias("n_convs"),
            ),
            "surface",
        )
        .groupBy("surface", "n_mentions", "n_convs")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.min(
                F.struct((-F.col("c")).alias("negc"), F.col("entity_id").alias("e"))
            ).alias("t"),
        )
        .select(
            "surface", "n_mentions", "n_convs", "n_entities",
            F.col("t.e").alias("top_entity"),
            (-F.col("t.negc")).alias("top_count"),
        )
    )


@register(
    "graph_assortativity",
    """
    WITH e AS (
        SELECT DISTINCT LEAST(l_suppkey, 1000 + l_partkey % 100) AS a,
               GREATEST(l_suppkey, 1000 + l_partkey % 100) AS b
        FROM lineitem WHERE l_orderkey < 300
    ),
    sym AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
    paired AS (
        SELECT dx.d AS dx, dy.d AS dy
        FROM sym JOIN deg dx ON sym.v = dx.v JOIN deg dy ON sym.u = dy.v
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2,
               CAST(SUM(dx * dy) AS BIGINT) AS sxy,
               CAST(SUM(dx) AS BIGINT) AS sx,
               CAST(SUM(dx * dx) AS BIGINT) AS sxx
        FROM paired
    )
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           ROUND(CAST(m2 * sxy - sx * sx AS DOUBLE)
                 / CAST(m2 * sxx - sx * sx AS DOUBLE), 6) AS assortativity
    FROM s
    """,
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity (operators/graph.degree_assortativity) over
    the shared supplier↔bucket graph — integer Pearson sums hoisted so
    the float tail is 3 exact ops + 1 division (the graph_modularity
    discipline)."""
    from cdrc_semantic_search_spark.operators.graph import degree_assortativity

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    return degree_assortativity(edges)


@register(
    "kg_entity_alignment",
    """
    WITH a AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 2 = 0 AND vec_id < 400),
    b AS (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id % 2 = 1 AND vec_id < 400),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS score
        FROM a, b
    ),
    fwd AS (
        SELECT id_a, id_b, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    rev AS (
        SELECT id_a, id_b FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY score DESC, id_a ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT fwd.id_a, fwd.id_b, ROUND(fwd.score, 6) AS score
    FROM fwd JOIN rev ON fwd.id_a = rev.id_a AND fwd.id_b = rev.id_b
    """,
)
def kg_entity_alignment(spark, sf_dir):
    """Reciprocal-nearest-neighbor entity alignment (operators/linking.
    reciprocal_best_match) between two embedding snapshots (even/odd
    vec_ids) — the mutual-top-1 gate a KG merge runs before fusing two
    catalogues. Oracle: brute-force cosine + two ROW_NUMBER windows +
    reciprocity join in pure SQL."""
    from cdrc_semantic_search_spark.operators.linking import (
        reciprocal_best_match,
    )

    e = load(spark, sf_dir, "embeddings").filter("vec_id < 400")
    a = e.filter("vec_id % 2 = 0")
    b = e.filter("vec_id % 2 = 1")
    return reciprocal_best_match(a, b, "vec_id", "embedding")


@register(
    "dedup_blocking_quality", value_oracles.lazy("dedup_blocking_quality")
)
def dedup_blocking_quality(spark, sf_dir):
    """Pair completeness + reduction ratio of the MinHash blocking vs
    exact shingle-Jaccard truth (operators/dedup.blocking_quality) on
    200 docs + 30 shifted clones — the grade a band/permutation config
    earns before running at corpus scale. Twin recomputes truth
    all-pairs and candidates by band-slice equality in plain Python."""
    from cdrc_semantic_search_spark.operators.dedup import blocking_quality

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter("doc_id < 200").unionByName(
        d.filter("doc_id < 30").select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    return blocking_quality(base, "doc_id", "text")


@register("graph_wl_colors", value_oracles.lazy("graph_wl_colors"))
def graph_wl_colors(spark, sf_dir):
    """Two rounds of Weisfeiler–Leman color refinement (operators/graph.
    wl_refinement) over the shared supplier↔bucket graph — per-vertex
    structural signatures (role discovery / substructure dedup
    fingerprints). Twin re-derives the degree seeds and the canonical
    crc32 renderings in plain dicts."""
    from cdrc_semantic_search_spark.operators.graph import wl_refinement

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    return wl_refinement(edges, n_rounds=2)


@register(
    "graph_neighborhood_fn", value_oracles.lazy("graph_neighborhood_fn")
)
def graph_neighborhood_fn(spark, sf_dir):
    """HyperBall neighborhood function N(t) for t ∈ [0, 3]
    (operators/graph.neighborhood_function) over the shared
    supplier↔bucket graph — the effective-diameter curve, with
    per-vertex estimates summed as integer millionths so the global
    rollup is summation-order-independent. Twin: exact BFS balls +
    identical register/estimator arithmetic."""
    from cdrc_semantic_search_spark.operators.graph import (
        neighborhood_function,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    return neighborhood_function(edges, max_t=3)


@register(
    "train_hard_negatives",
    """
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id, embedding, label FROM embeddings
          WHERE vec_id >= 50 AND vec_id < 450),
    scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS score
        FROM q, c WHERE q.label <> c.label
    )
    SELECT q_id, c_id, ROUND(score, 6) AS score, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def train_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.hard_negatives): per
    query vector, the 3 most-similar DIFFERENT-label corpus vectors —
    the DPR-style negatives a bi-encoder trains against. Label filter
    fused before the rank windows. Oracle: brute-force + window."""
    from cdrc_semantic_search_spark.operators.similarity import hard_negatives

    e = load(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 50").select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    c = e.filter("vec_id >= 50 AND vec_id < 450").select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
    )
    out = hard_negatives(q, c, k=3)
    return out.select(
        "q_id", "c_id", F.round("score", 6).alias("score"), "rank"
    )


@register("tr_conv_near_dup", value_oracles.lazy("tr_conv_near_dup"))
def tr_conv_near_dup(spark, sf_dir):
    """CONVERSATION-level near-dup detection: per-conversation ordered
    turn assembly (operators/assembly.assemble_conversations — the W5
    ordering contract) fed into MinHash+LSH (operators/dedup) with 20
    cloned conversations guaranteeing true positives — the dedup shape a
    10^12-turn transcript table needs (whole conversations recur via
    retries/reposts far more often than individual documents). Twin
    re-derives the ordered concat and the shared MinHash kernel in
    plain Python."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.operators.assembly import (
        assemble_conversations,
    )
    from cdrc_semantic_search_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    fx = fixtures.generate(seed=42, n_conversations=200, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    conv = assemble_conversations(tdf).select("conv_id", "conversation_text")
    first20 = sorted(fx.transcripts.conv_id.unique().tolist())[:20]
    clones = conv.filter(F.col("conv_id").isin(first20)).select(
        F.concat(F.lit("dup_"), F.col("conv_id")).alias("conv_id"),
        "conversation_text",
    )
    uni = conv.unionByName(clones)
    sigs = minhash_signatures(uni, "conv_id", "conversation_text", k=3, n_perm=64)
    return minhash_lsh_pairs(
        sigs, "conv_id", n_perm=64, n_bands=16, min_est_jaccard=0.9
    )


@register("graph_linkpred_auc", value_oracles.lazy("graph_linkpred_auc"))
def graph_linkpred_auc(spark, sf_dir):
    """Link-prediction AUC (operators/graph.linkpred_auc): positives =
    the fixture graph's own edges, negatives = md5-corrupted endpoints
    (join-picked from the row-numbered node table — no driver collect),
    common-neighbor scores, exact integer rank-sum AUC. Twin mirrors
    every step including the corruption hash."""
    from cdrc_semantic_search_spark.operators.graph import linkpred_auc

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .distinct()
    )
    wn = Window.orderBy("v")
    numbered = nodes.withColumn("rn", F.row_number().over(wn))
    n_nodes = numbered.agg(F.max("rn").alias("n"))
    hexpart = F.substring(
        F.md5(F.concat_ws("|", F.lit("neg"), F.col("a"), F.col("b"))), 1, 8
    )
    cand_idx = F.pmod(
        F.conv(hexpart, 16, 10).cast("long"), F.col("n")
    ).cast("int")
    neg = (
        und.crossJoin(F.broadcast(n_nodes))
        .withColumn("rn", cand_idx + 1)
        .join(F.broadcast(numbered.select("rn", F.col("v").alias("cand"))), "rn")
        .filter(F.col("cand") != F.col("a"))
        .select(
            F.least("a", "cand").alias("a"),
            F.greatest("a", "cand").alias("b2"),
        )
        .select(F.col("a"), F.col("b2").alias("b"))
        .join(und, ["a", "b"], "left_anti")
    )
    return linkpred_auc(edges, und, neg)


@register(
    "w10_distribution_ranks",
    """
    SELECT o_custkey,
           o_orderkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM orders WHERE o_custkey < 80
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def w10_distribution_ranks(spark, sf_dir):
    """Distribution-rank window family: percent_rank / cume_dist /
    ntile over a deterministic (o_custkey, o_orderkey) window — both
    ranks are exact rationals of integer row counts, ntile integer, so
    the cross-engine agreement is exact after the shared round-6."""
    o = load(spark, sf_dir, "orders").filter("o_custkey < 80")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "a10_grouping_sets",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
                AS BIGINT) AS gid
    FROM orders WHERE o_custkey < 500
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """,
)
def a10_grouping_sets(spark, sf_dir):
    """GROUPING SETS with grouping_id — the one multi-granularity
    aggregation idiom a8 (ROLLUP) and a9 (pivot) don't cover: an
    explicit lattice of group-bys in ONE pass (Spark expands to a
    single expand+aggregate, not four scans)."""
    o = load(spark, sf_dir, "orders").filter("o_custkey < 500")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
                    AS BIGINT) AS gid
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
        """,
        o=o,
    )


@register(
    "train_dsir_importance",
    f"""
    WITH t AS (
        SELECT doc_id, toks FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
        WHERE len(toks) >= 2
    ),
    bi AS (
        SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
              FROM t)
    ),
    tref AS (SELECT * FROM bi WHERE doc_id < 150),
    tcb AS (SELECT w1, w2, COUNT(*) AS cb FROM tref GROUP BY w1, w2),
    tcu AS (SELECT w1, COUNT(*) AS cu FROM tref GROUP BY w1),
    tv AS (SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT unnest({_SQL_TOKS}) AS tok FROM documents WHERE doc_id < 150)),
    sref AS (SELECT * FROM bi WHERE doc_id >= 150 AND doc_id < 300),
    scb AS (SELECT w1, w2, COUNT(*) AS cb FROM sref GROUP BY w1, w2),
    scu AS (SELECT w1, COUNT(*) AS cu FROM sref GROUP BY w1),
    sv AS (SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT unnest({_SQL_TOKS}) AS tok FROM documents
        WHERE doc_id >= 150 AND doc_id < 300)),
    tsc AS (
        SELECT bi.doc_id,
               CAST(ROUND(ln((COALESCE(tcb.cb, 0) + 1.0) / (COALESCE(tcu.cu, 0) + tv.v)), 7)
                    AS DECIMAL(18,7)) AS term
        FROM bi LEFT JOIN tcb USING (w1, w2) LEFT JOIN tcu USING (w1) CROSS JOIN tv
    ),
    ssc AS (
        SELECT bi.doc_id,
               CAST(ROUND(ln((COALESCE(scb.cb, 0) + 1.0) / (COALESCE(scu.cu, 0) + sv.v)), 7)
                    AS DECIMAL(18,7)) AS term
        FROM bi LEFT JOIN scb USING (w1, w2) LEFT JOIN scu USING (w1) CROSS JOIN sv
    ),
    ta AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  ROUND(-CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS ce_target
           FROM tsc GROUP BY doc_id),
    sa AS (SELECT doc_id, ROUND(-CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS ce_source
           FROM ssc GROUP BY doc_id)
    SELECT ta.doc_id, n_bigrams, ce_target, ce_source,
           ROUND(ce_source - ce_target, 6) AS importance
    FROM ta JOIN sa ON ta.doc_id = sa.doc_id
    """,
)
def train_dsir_importance(spark, sf_dir):
    """DSIR data-selection importance weights (operators/text_analysis.
    dsir_importance): target LM trained on doc_id<150, source LM on
    150..299, every document scored against both — the importance-
    resampling selector a pretraining mix runs before sampling. Pure-SQL
    oracle reuses the ta_lm_cross_entropy determinism discipline
    (round-7 decimal terms, order-independent sums) twice."""
    from cdrc_semantic_search_spark.operators.text_analysis import (
        dsir_importance,
    )

    d = load(spark, sf_dir, "documents")
    return dsir_importance(
        d,
        d.filter("doc_id < 150"),
        d.filter("doc_id >= 150 AND doc_id < 300"),
        "doc_id",
        "text",
    )


@register(
    "emb_centroid_drift",
    """
    WITH ex AS (
        SELECT vec_id, label,
               UNNEST(range(len(embedding))) AS dim,
               UNNEST(embedding) AS x
        FROM embeddings
    ),
    ca AS (
        SELECT label, dim,
               ROUND(CAST(ROUND(SUM(CAST(x AS DECIMAL(38,18))), 8) AS DOUBLE)
                     / COUNT(*), 6) AS m,
               COUNT(*) AS n
        FROM ex WHERE vec_id % 2 = 0 GROUP BY label, dim
    ),
    cb AS (
        SELECT label, dim,
               ROUND(CAST(ROUND(SUM(CAST(x AS DECIMAL(38,18))), 8) AS DOUBLE)
                     / COUNT(*), 6) AS m,
               COUNT(*) AS n
        FROM ex WHERE vec_id % 2 = 1 GROUP BY label, dim
    ),
    p AS (
        SELECT ca.label, ca.n AS n_a, cb.n AS n_b,
               CAST(ca.m AS DECIMAL(19,6)) AS xa,
               CAST(cb.m AS DECIMAL(19,6)) AS xb
        FROM ca JOIN cb ON ca.label = cb.label AND ca.dim = cb.dim
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(CAST(SUM(xa * xb) AS DOUBLE)
                 / (sqrt(CAST(SUM(xa * xa) AS DOUBLE))
                    * sqrt(CAST(SUM(xb * xb) AS DOUBLE))), 6) AS cos_drift
    FROM p GROUP BY label, n_a, n_b
    """,
)
def emb_centroid_drift(spark, sf_dir):
    """Embedding-space drift monitor (operators/rollup.centroid_drift):
    per-label centroid cosine between two snapshots (even/odd vec_ids)
    — the refresh gate for an embedding-backed linker. Decimal sums at
    every float reduction keep both engines bit-agreed."""
    from cdrc_semantic_search_spark.operators.rollup import centroid_drift

    e = load(spark, sf_dir, "embeddings")
    return centroid_drift(
        e.filter("vec_id % 2 = 0"), e.filter("vec_id % 2 = 1"),
        "label", "embedding",
    )


@register(
    "sample_bottom_k",
    """
    SELECT doc_id, source, CAST(rk AS INTEGER) AS __bk_rank FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (ORDER BY md5('bk|' || CAST(doc_id AS VARCHAR)) ASC,
                                  doc_id ASC) AS rk
        FROM documents
    ) WHERE rk <= 50
    """,
)
def sample_bottom_k(spark, sf_dir):
    """Deterministic bottom-k uniform sample (operators/split.
    bottom_k_sample): the 50 documents with the smallest md5(salt|key)
    — reproducible on any engine/partitioning and mergeable (bottom-k
    of per-partition bottom-ks). The oracle is the same order statistic
    in plain SQL."""
    from cdrc_semantic_search_spark.operators.split import bottom_k_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return bottom_k_sample(d, F.col("doc_id"), k=50)


@register(
    "scd2_doc_sources",
    """
    WITH hist AS (
        SELECT doc_id, source, DATE '2026-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to
        FROM documents WHERE doc_id < 400
    ),
    upd AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN source || '_v2' ELSE source END AS source,
               DATE '2026-02-01' AS ts
        FROM documents WHERE doc_id >= 200 AND doc_id < 600
    ),
    cur AS (SELECT * FROM hist WHERE valid_to IS NULL),
    j AS (
        SELECT COALESCE(cur.doc_id, upd.doc_id) AS doc_id,
               cur.source AS cv, cur.valid_from AS cfrom,
               upd.source AS uv, upd.ts AS uts
        FROM cur FULL OUTER JOIN upd ON cur.doc_id = upd.doc_id
    )
    SELECT doc_id, cv AS source, cfrom AS valid_from,
           CAST(NULL AS DATE) AS valid_to
    FROM j WHERE cv IS NOT NULL AND (uv IS NULL OR uv = cv)
    UNION ALL
    SELECT doc_id, cv, cfrom, uts
    FROM j WHERE cv IS NOT NULL AND uv IS NOT NULL AND uv <> cv
    UNION ALL
    SELECT doc_id, uv, uts, CAST(NULL AS DATE)
    FROM j WHERE uv IS NOT NULL AND (cv IS NULL OR uv <> cv)
    """,
)
def scd2_doc_sources(spark, sf_dir):
    """Type-2 SCD merge (operators/split.scd2_apply): a document-source
    dimension at two snapshots — overlapping keys with every third
    update changing the value exercise all four paths (no-op identical,
    close+insert changed, insert new, pass-through absent). Oracle:
    the same WHEN MATCHED/NOT MATCHED logic in plain SQL."""
    from cdrc_semantic_search_spark.operators.split import scd2_apply

    d = load(spark, sf_dir, "documents")
    hist = d.filter("doc_id < 400").select(
        "doc_id", "source",
        F.lit("2026-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    upd = d.filter("doc_id >= 200 AND doc_id < 600").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("source"), F.lit("_v2"))
        ).otherwise(F.col("source")).alias("source"),
        F.lit("2026-02-01").cast("date").alias("ts"),
    )
    return scd2_apply(hist, upd, ["doc_id"], ["source"], "ts")


@register("kg_popularity_drift", value_oracles.lazy("kg_popularity_drift"))
def kg_popularity_drift(spark, sf_dir):
    """Entity-popularity drift: PSI terms of the entity-mention
    distribution (subject + object occurrences of the fixture's
    triples) between the two observation windows kg_graph_diff splits
    at — the monitor that tells a curator WHICH entities moved, not
    just that the edge set changed. Composes the triple stream with
    operators/split.distribution_psi; twin re-derives occurrences and
    the PSI arithmetic in plain dicts."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.operators.split import distribution_psi
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities)
    tr = pipe.triples(tdf)
    ents = tr.select(
        "ts", F.explode(F.array("subj_entity_id", "obj_entity_id")).alias("entity_id")
    )
    a = ents.filter(F.col("ts") < "2026-05-01")
    b = ents.filter(F.col("ts") >= "2026-05-01")
    return distribution_psi(a, b, "entity_id")


@register("ann_ivf_recall", value_oracles.lazy("ann_ivf_recall"))
def ann_ivf_recall(spark, sf_dir):
    """Recall@5 of the IVF index against the exact scan, per query —
    the acceptance gate an ANN rollout runs before swapping indexes
    (pytest pins a recall floor; this entry makes the full per-query
    report a first-class, oracle-checked query). Pure counting on top
    of the two existing top-k operators: one (q_id, c_id) equi-join of
    their outputs."""
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_cosine_exact,
        topk_cosine_ivf,
        train_centroids,
    )

    sample, q, c = _ann_fixture(spark, sf_dir)
    cent = train_centroids(sample, n_centroids=16, seed=42)
    exact = topk_cosine_exact(q, c, k=5).select("q_id", "c_id")
    ivf = topk_cosine_ivf(spark, q, c, cent, k=5, n_probe=4).select(
        "q_id", "c_id"
    )
    hits = exact.join(ivf, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    per_q = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        per_q.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.col("k").cast("long").alias("k"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("k"), 6).alias(
                "recall"
            ),
        )
    )


@register(
    "curation_quality_tiers",
    f"""
    WITH q AS (
        SELECT doc_id,
               CAST(len(toks) AS INT) AS q_n_tokens,
               ROUND(CASE WHEN len(toks) > 0
                     THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                     ELSE 0.0 END, 4) AS score
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    tiered AS (
        SELECT q.*, NTILE(4) OVER (ORDER BY score DESC, doc_id ASC) AS tier
        FROM q
    )
    SELECT CAST(tier AS INTEGER) AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(q_n_tokens) AS BIGINT) AS total_tokens,
           MIN(score) AS min_score, MAX(score) AS max_score
    FROM tiered GROUP BY tier
    """,
)
def curation_quality_tiers(spark, sf_dir):
    """The data-pyramid report: documents bucketed into quality
    quartiles (ntile over the round-4 distinct-token ratio, doc_id
    tie-break — fully deterministic) with doc and TOKEN totals per tier
    — the table a curator reads to decide how many tokens each quality
    band can contribute to a mix. Composes quality_features with the
    w10 window family; the rounded score is an exact rational so both
    engines tier identically."""
    from cdrc_semantic_search_spark.operators.text_analysis import (
        quality_features,
    )

    d = load(spark, sf_dir, "documents")
    q = quality_features(d, "text").select(
        "doc_id",
        "q_n_tokens",
        F.round("q_distinct_ratio", 4).alias("score"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    tiered = q.withColumn("tier", F.ntile(4).over(w))
    return tiered.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("q_n_tokens").cast("long").alias("total_tokens"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


@register(
    "kg_rule_confidence_capped",
    value_oracles.lazy("kg_rule_confidence_capped"),
)
def kg_rule_confidence_capped(spark, sf_dir):
    """The rule miner's hot-midpoint guard, oracle-pinned ACTIVE: a
    synthetic hub (4 fan-in × 3 fan-out = 12 > cap 9) is dropped from
    the midpoint role while every fixture rule survives — the VALUES
    twin models the identical drop, so capped output is value-hash-
    checked, not just row-counted (the dedup_minhash_lsh_capped
    discipline)."""
    from cdrc_semantic_search_spark.operators.rules import composition_rules

    base = _fixture_kg_edges(spark).select(
        "subj_entity_id", "pred", "obj_entity_id"
    )
    hub_in = spark.createDataFrame(
        [(f"S{i}", "feeds", "HUB") for i in range(4)],
        "subj_entity_id string, pred string, obj_entity_id string",
    )
    hub_out = spark.createDataFrame(
        [("HUB", "emits", f"T{j}") for j in range(3)],
        "subj_entity_id string, pred string, obj_entity_id string",
    )
    e = base.unionByName(hub_in).unionByName(hub_out)
    return composition_rules(e, max_mid_paths=9).select(
        "p1", "p2", "p3", "support", "body_pairs", "confidence"
    )


@register("graph_eff_diameter", value_oracles.lazy("graph_eff_diameter"))
def graph_eff_diameter(spark, sf_dir):
    """Effective diameter (operators/graph.effective_diameter): the
    0.9-quantile crossing of the HyperBall neighborhood function, with
    the comparison in exact integer millionths. Twin shares the
    register/estimator kernels end-to-end."""
    from cdrc_semantic_search_spark.operators.graph import effective_diameter

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    return effective_diameter(edges, max_t=4)


@register("ann_pq_recall", value_oracles.lazy("ann_pq_recall"))
def ann_pq_recall(spark, sf_dir):
    """Recall@5 of the PQ-ADC scan against the exact scan, per query —
    the 32×-compression acceptance gate beside ann_ivf_recall's
    candidate-cut gate; one equi-join of the two top-k outputs."""
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_cosine_exact,
        topk_pq_adc,
        train_pq_codebooks,
    )

    sample, q, c = _ann_fixture(spark, sf_dir)
    books = train_pq_codebooks(sample, m=8, k=16, seed=42)
    exact = topk_cosine_exact(q, c, k=5).select("q_id", "c_id")
    adc = topk_pq_adc(spark, q, c, books, k=5).select("q_id", "c_id")
    hits = exact.join(adc, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    per_q = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        per_q.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.col("k").cast("long").alias("k"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("k"), 6).alias(
                "recall"
            ),
        )
    )

