"""Registry chunk: dedup family + retrieval scoring (BM25/TF-IDF/RRF/PMI).

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

# dedup family (training-data pipeline operators)
# =====================================================================

@register(
    "dedup_exact_groups",
    """
    SELECT dup_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
           MIN(doc_id) AS keeper
    FROM (
        SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS dup_key FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS dup_key
        FROM documents WHERE doc_id < 50
    ) GROUP BY dup_key HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup via digest groupBy; duplicates synthesized by unioning a
    shifted copy of the first 50 docs (corpus texts are all distinct).
    md5 digest so the oracle reproduces the key. ``doc_ids`` is emitted as a
    comma-joined string (sorted numerically first) — the driver's value-hash
    canonicalizer cannot factorize array-typed cells."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter("doc_id < 50").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    uni = d.unionByName(dup)
    norm = F.trim(F.regexp_replace(F.col("text"), "\\s+", " "))
    return (
        uni.select("doc_id", F.md5(norm).alias("dup_key"))
        .groupBy("dup_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doc_ids"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_token_jaccard",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
    FROM (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
          FROM documents WHERE doc_id < 60) a
    JOIN (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
          FROM documents WHERE doc_id < 60) b
      ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
    """,
)
def dedup_token_jaccard(spark, sf_dir):
    """Token-set (1-gram) Jaccard near-dup pairs ≥ 0.5 — the SQL-checkable
    member of the n-gram Jaccard family (k>1 variants below are
    rows-only)."""
    d = load(spark, sf_dir, "documents").filter("doc_id < 60")
    t = d.select(
        "doc_id", F.array_distinct(T.tokens(F.col("text"))).alias("toks")
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM documents WHERE doc_id < 200
    ),
    s AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(generate_series(1, len(toks) - 2),
                                            i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                        ELSE list_filter([array_to_string(toks, ' ')], x -> x <> '')
                   END
               ) AS sh
        FROM t
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS n_inter,
               CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS n_union
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, ROUND(n_inter / n_union, 6) AS jaccard
    FROM p WHERE n_union > 0 AND n_inter / n_union >= 0.2
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """3-gram shingle Jaccard pairs via the inverted-index self-join
    (operators/dedup.py). The candidate set is EXACT (any pair with
    Jaccard ≥ τ > 0 shares ≥ 1 shingle, so the inverted index misses
    nothing) and the xxhash64 shingle keys never leave the engine — the
    (id_a, id_b, jaccard) output hash-matches a small-n all-pairs DuckDB
    3-gram-Jaccard oracle."""
    from cdrc_semantic_search_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents").filter("doc_id < 200")
    return ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.2).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register("dedup_minhash_lsh", value_oracles.lazy("dedup_minhash_lsh"))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH banded candidate pairs. Seeded → deterministic; the
    oracle is a VALUES literal from the pure-Python twin, which derives
    candidates by direct band-slice equality (value_oracles.py).
    Self-union of shifted docs guarantees true dupes."""
    from cdrc_semantic_search_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter("doc_id < 50").select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    uni = d.unionByName(dup)
    sigs = minhash_signatures(uni, "doc_id", "text", k=3, n_perm=64)
    return minhash_lsh_pairs(sigs, "doc_id", n_perm=64, n_bands=16, min_est_jaccard=0.9)


@register("dedup_minhash_lsh_capped", value_oracles.lazy("dedup_minhash_lsh_capped"))
def dedup_minhash_lsh_capped(spark, sf_dir):
    """The scale guard's output, oracle-pinned: a 30-copy mass-duplicate
    block (ids 20000..20029, all doc 0's text) makes every one of its
    band buckets 32 members — over the max_bucket_size=10 cap — so the
    guard skips them and doc 0 contributes no pairs, while clones 1..49
    still pair through their own 2-member buckets. The VALUES twin
    models the identical drop (value_oracles._minhash_lsh_twin cap=10),
    so capped output is value-hash-checked, not just row-counted."""
    from cdrc_semantic_search_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter("doc_id < 50").select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    mass = (
        spark.range(30)
        .select((F.col("id") + 20000).alias("doc_id"))
        .crossJoin(F.broadcast(d.filter("doc_id = 0").select("text")))
    )
    uni = d.unionByName(dup).unionByName(mass)
    sigs = minhash_signatures(uni, "doc_id", "text", k=3, n_perm=64)
    return minhash_lsh_pairs(
        sigs, "doc_id", n_perm=64, n_bands=16, min_est_jaccard=0.9,
        max_bucket_size=10,
    )


@register("dedup_simhash", value_oracles.lazy("dedup_simhash"))
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs; VALUES oracle from the pure-Python twin
    (chunk-equality blocking, exact hamming)."""
    from cdrc_semantic_search_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter("doc_id < 50").select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    sigs = simhash_signatures(d.unionByName(dup), "doc_id", "text")
    return simhash_near_pairs(sigs, "doc_id", max_hamming=3, n_bands=4)


@register(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
               list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS score
    FROM (SELECT * FROM embeddings WHERE vec_id < 500) a
    JOIN (SELECT * FROM embeddings WHERE vec_id < 500) b ON a.vec_id < b.vec_id
    WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
          (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
           sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.5
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs ≥ 0.5 — the deliberately-SMALL
    all-pairs oracle twin (vec_id < 500 keeps it quadratic-but-bounded at
    every SF); the scale path is the LSH-bucketed cosine_pairs_lsh
    (probabilistic candidate set → pytest-checked, not SQL-checked)."""
    e = load(spark, sf_dir, "embeddings").filter("vec_id < 500")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = V.cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("score_raw", cos)
        .filter(F.col("score_raw") >= 0.5)
        .select("id_a", "id_b", F.round("score_raw", 6).alias("score"))
    )


@register(
    "r1_bm25_scores",
    """
    WITH d AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM documents
    ),
    tk AS (SELECT doc_id, unnest(toks) AS term FROM d),
    doclen AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tk GROUP BY doc_id),
    stats AS (SELECT AVG(dl) AS avgdl FROM doclen),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM tk WHERE term IN ('data', 'model', 'spark') GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               ln(((SELECT n FROM nn) - CAST(COUNT(DISTINCT doc_id) AS DOUBLE) + 0.5)
                  / (CAST(COUNT(DISTINCT doc_id) AS DOUBLE) + 0.5) + 1.0) AS idf
        FROM tf GROUP BY term
    ),
    part AS (
        SELECT tf.doc_id,
               idf.idf * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl / (SELECT avgdl FROM stats))) AS s
        FROM tf JOIN idf USING (term) JOIN doclen USING (doc_id)
    ),
    scored AS (SELECT doc_id, SUM(s) AS score FROM part GROUP BY doc_id)
    SELECT d2.doc_id AS id, ROUND(COALESCE(scored.score, 0.0), 6) AS score
    FROM documents d2 LEFT JOIN scored ON scored.doc_id = d2.doc_id
    """,
)
def r1_bm25_scores(spark, sf_dir):
    """BM25 lexical scoring of every document against a 3-term query
    (functions/ranking.bm25_scores) — the classic scorer behind the
    reference's sparse retrieval mode, as pure DataFrame algebra (one
    posting-table shuffle; idf/avgdl broadcast). Exact DuckDB oracle:
    tf/df/doclen are integers, avgdl is an exact-sum average, and ln
    drift is ~1 ulp — invisible at ROUND 6."""
    from cdrc_semantic_search_spark.functions.ranking import bm25_scores

    d = load(spark, sf_dir, "documents")
    out = bm25_scores(d, ["data", "model", "spark"], k1=1.2, b=0.75)
    return out.select("id", F.round("score", 6).alias("score"))


def _rrf_oracle_sql() -> str:
    """Two bm25 rankings (suffix-disambiguated CTE chains) fused by
    reciprocal rank: ranks on (ROUND(score,6) DESC, doc_id ASC) so ln's
    ~1-ulp drift cannot flip a rank, fused score = two exact divisions
    + one addition (bit-identical — no output rounding)."""

    def bm25_chain(terms: list[str], sfx: str) -> str:
        tl = ", ".join(f"'{t}'" for t in terms)
        return f"""
    d{sfx} AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM documents
    ),
    tk{sfx} AS (SELECT doc_id, unnest(toks) AS term FROM d{sfx}),
    doclen{sfx} AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tk{sfx} GROUP BY doc_id),
    stats{sfx} AS (SELECT AVG(dl) AS avgdl FROM doclen{sfx}),
    nn{sfx} AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    tf{sfx} AS (
        SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM tk{sfx} WHERE term IN ({tl}) GROUP BY doc_id, term
    ),
    idf{sfx} AS (
        SELECT term,
               ln(((SELECT n FROM nn{sfx}) - CAST(COUNT(DISTINCT doc_id) AS DOUBLE) + 0.5)
                  / (CAST(COUNT(DISTINCT doc_id) AS DOUBLE) + 0.5) + 1.0) AS idf
        FROM tf{sfx} GROUP BY term
    ),
    part{sfx} AS (
        SELECT tf{sfx}.doc_id,
               idf{sfx}.idf * (tf{sfx}.tf * 2.2)
               / (tf{sfx}.tf + 1.2 * (1 - 0.75 + 0.75 * doclen{sfx}.dl / (SELECT avgdl FROM stats{sfx}))) AS s
        FROM tf{sfx} JOIN idf{sfx} USING (term) JOIN doclen{sfx} USING (doc_id)
    ),
    scored{sfx} AS (
        SELECT d2.doc_id AS id, ROUND(COALESCE(x.score, 0.0), 6) AS score
        FROM documents d2 LEFT JOIN (
            SELECT doc_id, SUM(s) AS score FROM part{sfx} GROUP BY doc_id
        ) x ON x.doc_id = d2.doc_id
    ),
    ranked{sfx} AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rank{sfx}
        FROM scored{sfx}
    ),
    top{sfx} AS (SELECT * FROM ranked{sfx} WHERE rank{sfx} <= 20)"""

    return (
        "WITH "
        + bm25_chain(["data", "model", "spark"], "_a").lstrip()
        + ","
        + bm25_chain(["data", "energy"], "_b")
        + """
    SELECT COALESCE(top_a.id, top_b.id) AS id,
           CAST(rank_a AS INTEGER) AS rank_a,
           CAST(rank_b AS INTEGER) AS rank_b,
           COALESCE(1.0 / (60 + CAST(rank_a AS DOUBLE)), 0.0)
           + COALESCE(1.0 / (60 + CAST(rank_b AS DOUBLE)), 0.0) AS rrf
    FROM top_a FULL OUTER JOIN top_b ON top_a.id = top_b.id
    """
    )


@register("r3_rrf_fusion", _rrf_oracle_sql)
def r3_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (functions/ranking.rrf_fuse, k=60, top 20)
    of two BM25 rankings over different query bags — the
    calibration-free hybrid-fusion baseline beside the reference's
    α-blend. Ranks are taken on 6-rounded scores so both engines rank
    identical values; the fused double needs no rounding."""
    from cdrc_semantic_search_spark.functions.ranking import (
        bm25_scores,
        rrf_fuse,
    )

    d = load(spark, sf_dir, "documents")
    a = bm25_scores(d, ["data", "model", "spark"]).select(
        "id", F.round("score", 6).alias("score")
    )
    b = bm25_scores(d, ["data", "energy"]).select(
        "id", F.round("score", 6).alias("score")
    )
    out = rrf_fuse(a, b, k=60, top=20)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("rank_a").cast("int").alias("rank_a"),
        F.col("rank_b").cast("int").alias("rank_b"),
        "rrf",
    )


@register(
    "r2_tfidf_scores",
    """
    WITH tk AS (
        SELECT doc_id AS id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (
        SELECT id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM tk WHERE term IN ('data', 'model', 'spark', 'energy')
        GROUP BY id, term
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    idf AS (
        SELECT term,
               ln(((SELECT n FROM nn) + 1.0) / (CAST(COUNT(DISTINCT id) AS DOUBLE) + 1.0)) + 1.0 AS idf
        FROM tf GROUP BY term
    )
    SELECT tf.id, tf.term, ROUND(tf.tf * idf.idf, 6) AS tfidf
    FROM tf JOIN idf USING (term)
    """,
)
def r2_tfidf_scores(spark, sf_dir):
    """Smoothed TF-IDF features over a fixed vocabulary
    (functions/ranking.tfidf_scores) — the classic quality-classifier /
    near-dup feature extractor; posting table shuffles once, idf
    broadcast. tf/df are integers, so ROUND 6 absorbs only ln's ~1 ulp."""
    from cdrc_semantic_search_spark.functions.ranking import tfidf_scores

    d = load(spark, sf_dir, "documents")
    out = tfidf_scores(d, ["data", "model", "spark", "energy"])
    return out.select("id", "term", F.round("tfidf", 6).alias("tfidf"))


@register(
    "ev_pmi_pairs",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM events),
    per_type AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS cnt FROM ut GROUP BY event_type),
    pair AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS DOUBLE) AS n_ab
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, CAST(n_ab AS BIGINT) AS n_users_both,
           ROUND(ln(n_ab * (SELECT n FROM n_users) / (pa.cnt * pb.cnt)), 6) AS pmi
    FROM pair
    JOIN per_type pa ON pa.event_type = type_a
    JOIN per_type pb ON pb.event_type = type_b
    """,
)
def ev_pmi_pairs(spark, sf_dir):
    """Pointwise mutual information between event-type pairs sharing a
    user — the co-occurrence statistic KG/recommendation pipelines mine
    for implicit edges. One distinct (user, type) shuffle; the per-user
    self-join fans out only by a user's distinct types (bounded, unlike
    a per-token join); type marginals broadcast."""
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().persist()  # 3 branches
    n_users = ev.agg(F.countDistinct("user_id").cast("double").alias("n"))
    per_type = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pair = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_ab"))
    )
    pa = per_type.select(F.col("event_type").alias("type_a"), F.col("cnt").alias("cnt_a"))
    pb = per_type.select(F.col("event_type").alias("type_b"), F.col("cnt").alias("cnt_b"))
    return (
        pair.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            F.col("n_ab").cast("long").alias("n_users_both"),
            F.round(
                F.log(F.col("n_ab") * F.col("n") / (F.col("cnt_a") * F.col("cnt_b"))), 6
            ).alias("pmi"),
        )
    )


@register(
    "doc_zscore_norm",
    """
    SELECT doc_id, source,
           ROUND((n_chars - AVG(n_chars) OVER (PARTITION BY source))
                 / STDDEV_SAMP(n_chars) OVER (PARTITION BY source), 6) AS z
    FROM documents
    """,
)
def doc_zscore_norm(spark, sf_dir):
    """Per-group z-score standardization (feature scaling before a
    quality classifier): one shuffle on the group key; mean and sample
    stddev share the window partition."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    return d.select(
        "doc_id",
        "source",
        F.round(
            (F.col("n_chars") - F.avg("n_chars").over(w))
            / F.stddev_samp("n_chars").over(w),
            6,
        ).alias("z"),
    )


@register("dedup_embedding_lsh", value_oracles.lazy("dedup_embedding_lsh"))
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup at corpus scale: random-hyperplane LSH buckets →
    exact cosine re-check (operators/similarity.cosine_pairs_lsh). Runs
    over the FULL embeddings table plus a shifted copy of the first 50
    vectors (guaranteed duplicates — identical vectors always share every
    bucket, so LSH must surface ≥ 50 pairs). Shuffle is on (band, bucket),
    never all-pairs. The seeded buckets are deterministic, so the oracle
    is a VALUES literal from the pure-NumPy twin (value_oracles.py)."""
    from cdrc_semantic_search_spark.operators.similarity import cosine_pairs_lsh

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.filter("vec_id < 50").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    uni = e.unionByName(dup)
    dim = len(e.select("embedding").first()[0])
    return cosine_pairs_lsh(
        uni, "vec_id", "embedding", dim=dim, threshold=0.9, n_planes=16, n_bands=4
    ).select("id_a", "id_b", F.round("score", 6).alias("score"))


