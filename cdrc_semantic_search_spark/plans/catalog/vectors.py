"""Registry chunk: §2.9 vector / semantic core.

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

# §2.9 vector / semantic core
# =====================================================================

@register(
    "v3_cosine_neighbors",
    """
    SELECT a.vec_id, ROUND(
        list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
         sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos_next
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id < 200
    """,
)
def v3_cosine_neighbors(spark, sf_dir):
    """V3 cosine similarity (datastore.py:85,93) as a Catalyst expression —
    zip_with/aggregate fold, identical evaluation order to DuckDB's
    list_dot_product on DOUBLE[]."""
    e = load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id"), F.col("embedding").alias("va")).filter("vec_id < 200")
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("vb"))
    return (
        a.join(b, "vec_id")
        .select("vec_id", F.round(V.cosine(F.col("va"), F.col("vb")), 6).alias("cos_next"))
    )


@register(
    "j3_topk_cosine",
    """
    SELECT q_id, c_id, score, rank FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROUND(
                   list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                   (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id ORDER BY
                   list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                   (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) DESC,
                   b.vec_id ASC) AS INT) AS rank
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
    ) WHERE rank <= 5
    """,
)
def j3_topk_cosine(spark, sf_dir):
    """J3 the core top-k similarity join (model.py:73-79): exact cosine
    top-5 for 10 query vectors; tie-break (score desc, c_id asc)."""
    from cdrc_semantic_search_spark.operators.similarity import topk_cosine_exact

    e = load(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 10").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = topk_cosine_exact(q, c, k=6)  # k+1 then drop self-match
    out = (
        out.filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
            ),
        )
        .filter(F.col("rank") <= 5)
    )
    return out.select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")


@register(
    "v4_hybrid_blend",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(0.75 * (
               list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))))
           + 0.25 * (
               CAST(len(list_intersect(
                   list_distinct(list_filter(string_split_regex(lower(a.text), '[^a-z0-9]+'), x -> x <> '')),
                   list_distinct(list_filter(string_split_regex(lower(b.text), '[^a-z0-9]+'), x -> x <> ''))
               )) AS DOUBLE) /
               len(list_distinct(list_concat(
                   list_distinct(list_filter(string_split_regex(lower(a.text), '[^a-z0-9]+'), x -> x <> '')),
                   list_distinct(list_filter(string_split_regex(lower(b.text), '[^a-z0-9]+'), x -> x <> ''))
               )))), 6) AS hybrid_score
    FROM documents a
    JOIN documents b ON b.doc_id = a.doc_id + 1
    JOIN embeddings ea ON ea.vec_id = a.doc_id
    JOIN embeddings eb ON eb.vec_id = b.doc_id
    WHERE a.doc_id < 100
    """,
)
def v4_hybrid_blend(spark, sf_dir):
    """V4 hybrid α·dense + (1−α)·sparse blend, α=0.75 (config.toml:14-15,
    model.py:74-78): dense = embedding cosine, sparse = token Jaccard."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    a = d.filter("doc_id < 100").select(
        F.col("doc_id").alias("doc_a"), F.array_distinct(T.tokens(F.col("text"))).alias("ta")
    )
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.array_distinct(T.tokens(F.col("text"))).alias("tb"),
    )
    ea = e.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("va"))
    eb = e.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("vb"))
    joined = a.join(b, "doc_a").join(ea, "doc_a").join(eb, "doc_b")
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(
            F.lit(0.75) * V.cosine(F.col("va"), F.col("vb")) + F.lit(0.25) * jac, 6
        ).alias("hybrid_score"),
    )


@register(
    "knn_label_vote",
    """
    WITH scored AS (
        SELECT a.vec_id AS q_id, b.label, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                   (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) DESC,
                   b.vec_id ASC) AS rank
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
    ),
    votes AS (
        SELECT q_id, label, COUNT(*) AS n FROM scored WHERE rank <= 5
        GROUP BY q_id, label
    ),
    ranked AS (
        SELECT q_id, label,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n DESC, label ASC) AS lr
        FROM votes
    )
    SELECT q_id, CAST(label AS INT) AS knn_label FROM ranked WHERE lr = 1
    """,
)
def knn_label_vote(spark, sf_dir):
    """kNN majority-vote classification over the embedding corpus (the
    eval-style use of the retrieval core, SURVEY §2.9 V5 applied)."""
    from cdrc_semantic_search_spark.operators.similarity import topk_cosine_exact

    e = load(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 20").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), "label")
    hits = (
        topk_cosine_exact(q, c.select("c_id", "c_vec"), k=6)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "rank2",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
            ),
        )
        .filter(F.col("rank2") <= 5)
    )
    votes = (
        hits.join(c.select("c_id", "label"), "c_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("lr", F.row_number().over(w))
        .filter(F.col("lr") == 1)
        .select("q_id", F.col("label").alias("knn_label"))
    )


@register(
    "v1_chunk_words",
    """
    SELECT doc_id, CAST(s AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, s * 12 + 1, s * 12 + 16), ' ') AS chunk_text
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM documents WHERE doc_id < 20
    ), LATERAL UNNEST(range(
        CASE WHEN len(toks) <= 16 THEN 1
             ELSE CAST(ceil((len(toks) - 4) / 12.0) AS BIGINT) END)) AS t(s)
    """,
)
def v1_chunk_words(spark, sf_dir):
    """V1 chunking (datastore.py:112-115): 16-token windows, 4 overlap,
    Catalyst-only — fully SQL-checkable."""
    from cdrc_semantic_search_spark.operators.chunker import chunk_words

    d = load(spark, sf_dir, "documents").filter("doc_id < 20")
    return chunk_words(d, "doc_id", "text", chunk_size=16, overlap=4)


# =====================================================================
