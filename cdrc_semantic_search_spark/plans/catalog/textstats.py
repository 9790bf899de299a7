"""Registry chunk: text analysis (training-data curation metrics, sketches).

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

# =====================================================================
# text analysis (training-data pipeline operators)
# =====================================================================



@register(
    "ta_quality_features",
    f"""
    SELECT doc_id, q_n_chars, q_n_tokens,
           ROUND(q_punct_ratio, 4) AS q_punct_ratio,
           ROUND(q_distinct_ratio, 4) AS q_distinct_ratio,
           ROUND(q_stopword_ratio, 4) AS q_stopword_ratio
    FROM (
        SELECT doc_id,
               CAST(length(text) AS INT) AS q_n_chars,
               CAST(len(toks) AS INT) AS q_n_tokens,
               CASE WHEN length(text) > 0 THEN
                    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
               ELSE 0.0 END AS q_punct_ratio,
               CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END AS q_distinct_ratio,
               CASE WHEN len(toks) > 0 THEN
                    CAST(len(list_filter(toks, x -> list_contains({_SQL_SW_EN}, x))) AS DOUBLE) / len(toks)
               ELSE 0.0 END AS q_stopword_ratio
        FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents WHERE doc_id < 100)
    )
    """,
)
def ta_quality_features(spark, sf_dir):
    """Quality-scoring features (length/punct/stopword/diversity ratios) —
    the SQL-checkable subset of operators/text_analysis.quality_features."""
    from cdrc_semantic_search_spark.operators.text_analysis import quality_features

    d = load(spark, sf_dir, "documents").filter("doc_id < 100").select("doc_id", "text")
    out = quality_features(d, "text")
    return out.select(
        "doc_id",
        F.col("q_n_chars").cast("int").alias("q_n_chars"),
        F.col("q_n_tokens").cast("int").alias("q_n_tokens"),
        "q_punct_ratio",
        "q_distinct_ratio",
        "q_stopword_ratio",
    )


@register(
    "ta_language_id",
    f"""
    SELECT lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
        SELECT doc_id,
            CASE WHEN greatest(r_en, r_fr, r_de, r_es) = 0 THEN 'und'
                 WHEN r_en = greatest(r_en, r_fr, r_de, r_es) THEN 'en'
                 WHEN r_fr = greatest(r_en, r_fr, r_de, r_es) THEN 'fr'
                 WHEN r_de = greatest(r_en, r_fr, r_de, r_es) THEN 'de'
                 ELSE 'es' END AS lang_guess
        FROM (
            SELECT doc_id,
                CASE WHEN len(toks)>0 THEN CAST(len(list_filter(toks, x -> list_contains({_SQL_SW_EN}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END AS r_en,
                CASE WHEN len(toks)>0 THEN CAST(len(list_filter(toks, x -> list_contains({_SQL_SW_FR}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END AS r_fr,
                CASE WHEN len(toks)>0 THEN CAST(len(list_filter(toks, x -> list_contains({_SQL_SW_DE}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END AS r_de,
                CASE WHEN len(toks)>0 THEN CAST(len(list_filter(toks, x -> list_contains({_SQL_SW_ES}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END AS r_es
            FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
        )
    ) GROUP BY lang_guess
    """,
)
def ta_language_id(spark, sf_dir):
    """Language-ID heuristic (stopword-ratio argmax) aggregated per corpus.
    DataFrame-level detect_language projects the token array once — the four
    per-language ratios share one regexp split per row."""
    from cdrc_semantic_search_spark.operators.text_analysis import detect_language

    d = load(spark, sf_dir, "documents")
    # the tokenize+4-ratio codegen chain is the whole cost; it runs at
    # the documents scan's parallelism, ahead of the one aggregation
    return (
        detect_language(d.select("text"), "text")
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@register(
    "ta_fingerprint",
    """
    SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id < 100
    """,
)
def ta_fingerprint(spark, sf_dir):
    """Document fingerprinting — md5 over whitespace-normalized text
    (md5, unlike xxhash64, is SQL-portable, so DuckDB can check it)."""
    d = load(spark, sf_dir, "documents").filter("doc_id < 100")
    norm = F.trim(F.regexp_replace(F.col("text"), "\\s+", " "))
    return d.select("doc_id", F.md5(norm).alias("fp"))


@register(
    "ta_token_counts",
    f"""
    SELECT source,
           CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS total_tokens,
           CAST(MAX(len({_SQL_TOKS})) AS BIGINT) AS max_tokens
    FROM documents GROUP BY source
    """,
)
def ta_token_counts(spark, sf_dir):
    """Token counting rolled up per source."""
    d = load(spark, sf_dir, "documents")
    n = T.token_count(F.col("text"))
    return d.groupBy("source").agg(
        F.sum(n).cast("long").alias("total_tokens"),
        F.max(n).cast("long").alias("max_tokens"),
    )


@register(
    "ta_bpe_token_counts",
    """
    SELECT source,
           CAST(SUM(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+'))) AS BIGINT) AS total_bpe_tokens,
           CAST(MAX(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+'))) AS BIGINT) AS max_bpe_tokens
    FROM documents GROUP BY source
    """,
)
def ta_bpe_token_counts(spark, sf_dir):
    """BPE-ish token counting per source — what a BPE vocab sees (digit /
    punctuation runs and contractions count separately), vs the
    whitespace counter in ta_token_counts. Catalyst regexp_extract_all;
    the pattern avoids lookarounds so Java regex ≡ RE2."""
    d = load(spark, sf_dir, "documents")
    n = T.bpe_token_count(F.col("text"))
    return d.groupBy("source").agg(
        F.sum(n).cast("long").alias("total_bpe_tokens"),
        F.max(n).cast("long").alias("max_bpe_tokens"),
    )


@register(
    "ta_repetition_ratio",
    f"""
    WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(
               range(len(toks) - 1),
               i -> toks[i + 1] || ' ' || toks[i + 2]
             )) AS bg
      FROM d WHERE len(toks) >= 2
    ),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY 1)
    SELECT d.doc_id,
           CAST(len(d.toks) AS INTEGER) AS n_tokens,
           CAST(top.top AS DOUBLE) / CAST(len(d.toks) - 1 AS DOUBLE)
             AS top_bigram_share
    FROM d LEFT JOIN top USING (doc_id)
    """,
)
def ta_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition filter signal: share of a document's
    bigrams taken by its most frequent bigram
    (operators/text_analysis.bigram_repetition). The int/int double
    division is bit-identical across engines, so no rounding is needed."""
    from cdrc_semantic_search_spark.operators.text_analysis import bigram_repetition

    return bigram_repetition(load(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "ta_common_token_score",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents),
    vocab AS (SELECT t, COUNT(*) AS gc FROM tok GROUP BY 1),
    tot AS (SELECT COUNT(*) AS total FROM tok)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(gc) AS DOUBLE)
             / CAST(COUNT(*) * (SELECT total FROM tot) AS DOUBLE)
             AS common_score
    FROM tok JOIN vocab USING (t) GROUP BY doc_id
    """,
)
def ta_common_token_score(spark, sf_dir):
    """Corpus-frequency quality signal (text_analysis.common_token_score):
    mean corpus frequency of a doc's tokens. Integer accumulation only —
    order-independent and exact in both engines; one final int/int double
    division (docs with zero tokens are absent from both sides)."""
    from cdrc_semantic_search_spark.operators.text_analysis import common_token_score

    return common_token_score(load(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "split_train_val_test",
    """
    WITH b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('split|' || doc_id), 1, 8)) AS UBIGINT) % 10000 AS bkt
        FROM documents
    )
    SELECT CASE WHEN bkt < 8000 THEN 'train'
                WHEN bkt < 9000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM b GROUP BY 1
    """,
)
def split_train_val_test(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split keyed on doc_id
    (operators/split.deterministic_split): md5-bucket thresholds, so the
    assignment is a pure function of the key — stable across runs,
    partitionings, and engines (the DuckDB oracle reproduces every
    bucket), unlike randomSplit which reassigns rows after a repartition."""
    from cdrc_semantic_search_spark.operators.split import deterministic_split

    d = load(spark, sf_dir, "documents")
    out = deterministic_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@register(
    "decontaminate_train",
    """
    WITH b AS (
        SELECT doc_id, text,
               CASE WHEN CAST(('0x' || substr(md5('split|' || doc_id), 1, 8)) AS UBIGINT) % 10000 < 8000
                    THEN 'train' ELSE 'holdout' END AS split
        FROM documents
    ),
    t AS (
        SELECT doc_id, split,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM b
    ),
    sh AS (
        SELECT doc_id, split,
               unnest(list_distinct(
                   CASE WHEN len(toks) >= 5
                        THEN list_transform(generate_series(1, len(toks) - 4),
                                            i -> array_to_string(list_slice(toks, i, i + 4), ' '))
                        ELSE list_filter([array_to_string(toks, ' ')], x -> x <> '')
                   END
               )) AS s
        FROM t
    ),
    hold AS (SELECT DISTINCT s FROM sh WHERE split = 'holdout')
    SELECT sh.doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM sh JOIN hold USING (s)
    WHERE sh.split = 'train'
    GROUP BY sh.doc_id
    """,
)
def decontaminate_train(spark, sf_dir):
    """Eval-set decontamination (operators/dedup.cross_split_contamination):
    train docs sharing ≥1 5-word shingle with the holdout, via a
    broadcast semi-probe of the distinct holdout shingle hashes against
    the train posting table — the 10^12-doc train side never shuffles.
    The split itself is the deterministic md5-bucket assignment, so both
    engines derive identical membership; the oracle joins on shingle
    STRINGS where Spark joins on xxhash64 (collisions ~2^-64)."""
    from cdrc_semantic_search_spark.operators.dedup import cross_split_contamination
    from cdrc_semantic_search_spark.operators.split import deterministic_split

    d = deterministic_split(
        load(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.8, "holdout": 0.2},
    )
    return cross_split_contamination(
        d, "doc_id", "text", "split", train="train", holdout=("holdout",), k=5
    )


@register(
    "pack_token_bins",
    """
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR((cum - 1) / 512) AS BIGINT) AS bin
    FROM c
    """,
)
def pack_token_bins(spark, sf_dir):
    """Deterministic sequence packing: docs stream into 512-token bins
    per source in doc_id order (bin = ⌊(cumulative−1)/budget⌋) — the
    batch-construction step before LLM training. One window cumsum per
    group key, no UDFs; the assignment is a pure function of
    (source, doc_id order), stable across partitionings. (Greedy
    first-fit packing is inherently sequential; the streaming-cumsum bin
    is the scalable deterministic variant.)"""
    from cdrc_semantic_search_spark.functions.text import token_count

    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select(
        "doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - 1) / 512).cast("long").alias("bin"),
    )


@register(
    "ta_lm_cross_entropy",
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
    ref AS (SELECT * FROM bi WHERE doc_id < 250),
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM ref GROUP BY w1, w2),
    cu AS (SELECT w1, COUNT(*) AS cu FROM ref GROUP BY w1),
    v AS (
        -- vocabulary over ALL reference docs (t filters len>=2, which
        -- would silently shrink V when a ref doc has a single token)
        SELECT COUNT(DISTINCT tok) AS v FROM (
            SELECT unnest({_SQL_TOKS}) AS tok FROM documents WHERE doc_id < 250
        )
    ),
    scored AS (
        SELECT bi.doc_id,
               CAST(ROUND(ln((COALESCE(cb.cb, 0) + 1.0) / (COALESCE(cu.cu, 0) + v.v)), 7)
                    AS DECIMAL(18,7)) AS term
        FROM bi LEFT JOIN cb USING (w1, w2) LEFT JOIN cu USING (w1) CROSS JOIN v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS ce
    FROM scored GROUP BY doc_id
    """,
)
def ta_lm_cross_entropy(spark, sf_dir):
    """CCNet-style perplexity quality filter: per-doc cross-entropy under
    an add-one bigram LM trained on the doc_id<250 reference slice
    (bounded by construction at ANY scale factor → both count tables
    broadcast; the corpus bigram stream scores map-side and shuffles
    only on doc_id). operators/text_analysis.bigram_cross_entropy."""
    from cdrc_semantic_search_spark.operators.text_analysis import (
        bigram_cross_entropy,
    )

    d = load(spark, sf_dir, "documents")
    return bigram_cross_entropy(d, d.filter("doc_id < 250"), "doc_id", "text")


@register(
    "emb_label_centroids",
    """
    WITH ex AS (
        SELECT label,
               UNNEST(range(len(embedding))) AS dim,
               UNNEST(embedding) AS x
        FROM embeddings
    ),
    per AS (
        SELECT label, dim,
               ROUND(CAST(ROUND(SUM(CAST(x AS DECIMAL(38,18))), 8) AS DOUBLE)
                     / COUNT(*), 6) AS m,
               COUNT(*) AS n
        FROM ex GROUP BY label, dim
    )
    SELECT CAST(label AS INTEGER) AS label, CAST(MAX(n) AS BIGINT) AS n,
           array_to_string(list(CAST(CAST(m AS DECIMAL(12,6)) AS VARCHAR) ORDER BY dim), ',') AS centroid
    FROM per GROUP BY label
    """,
)
def emb_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (operators/rollup.label_centroids):
    the class-prototype builder for centroid classifiers / few-shot label
    propagation. Sums run in DECIMAL(38,18) so the mean is accumulation-
    order-independent — the only way a float reduction can hash-match
    across engines AND partitionings; centroid renders as a fixed-point
    decimal string (double→string formatting differs between engines,
    DECIMAL(12,6)→string does not; arrays can't be driver-hashed)."""
    from cdrc_semantic_search_spark.operators.rollup import label_centroids

    e = load(spark, sf_dir, "embeddings")
    out = label_centroids(e, "label", "embedding", round_digits=6)
    return out.select(
        "label",
        "n",
        F.array_join(
            F.transform(
                F.col("centroid"), lambda m: m.cast("decimal(12,6)").cast("string")
            ),
            ",",
        ).alias("centroid"),
    )


@register(
    "skew2_distinct_two_phase",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def skew2_distinct_two_phase(spark, sf_dir):
    """Skew-safe exact distinct count (operators/rollup.
    distinct_count_two_phase): phase 1 dedupes on the composite
    (event_type, user_id) — a hot event type's users spread across the
    cluster instead of funneling into one reducer — phase 2 counts per
    type. Result identical to single-phase COUNT(DISTINCT) (the oracle),
    which must co-locate every distinct value of a hot key on one task."""
    from cdrc_semantic_search_spark.operators.rollup import distinct_count_two_phase

    ev = load(spark, sf_dir, "events")
    return distinct_count_two_phase(ev, "event_type", "user_id")


@register(
    "merge_upsert_docs",
    """
    WITH t AS (SELECT doc_id, source, n_chars FROM documents),
    u AS (
        SELECT doc_id, 'updated' AS source, n_chars + 1 AS n_chars
        FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, 'new' AS source, CAST(0 AS BIGINT) AS n_chars
        FROM documents WHERE doc_id < 20
    )
    SELECT COALESCE(u.doc_id, t.doc_id) AS doc_id,
           CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE t.source END AS source,
           CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars ELSE t.n_chars END AS n_chars
    FROM t FULL OUTER JOIN u ON t.doc_id = u.doc_id
    """,
)
def merge_upsert_docs(spark, sf_dir):
    """MERGE INTO semantics (operators/split.merge_upsert): 30 updated
    rows replace their targets, 20 new rows append, everything else
    survives — one full-outer join + struct coalesce, the logical plan
    Iceberg/Delta MERGE compiles to."""
    from cdrc_semantic_search_spark.operators.split import merge_upsert

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    nct = dict(d.dtypes)["n_chars"]
    upd = (
        d.filter("doc_id < 30").select(
            "doc_id",
            F.lit("updated").alias("source"),
            (F.col("n_chars") + 1).cast(nct).alias("n_chars"),
        )
    ).unionByName(
        d.filter("doc_id < 20").select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.lit("new").alias("source"),
            F.lit(0).cast(nct).alias("n_chars"),
        )
    )
    return merge_upsert(d, upd, key_cols=["doc_id"])


@register(
    "stratified_sample_counts",
    """
    WITH r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY CAST(('0x' || substr(md5('sample|' || doc_id), 1, 8)) AS UBIGINT) % 10000, doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_sampled_id
    FROM r WHERE (rn - 1) * 5 < n * 1 GROUP BY source  -- exact ⌈n·1/5⌉ quota, integer math
    """,
)
def stratified_sample_counts(spark, sf_dir):
    """Exact stratified 20% sample per source
    (operators/split.stratified_sample): every stratum keeps EXACTLY
    ⌈n·0.2⌉ rows, picked by deterministic md5-bucket rank — reproducible
    on any engine (the oracle reproduces the identical member set, not
    just the counts: min_sampled_id pins membership)."""
    from cdrc_semantic_search_spark.operators.split import stratified_sample

    d = load(spark, sf_dir, "documents")
    out = stratified_sample(d, "source", "doc_id", fraction=0.2)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.min("doc_id").cast("long").alias("min_sampled_id"),
    )


@register("sketch_approx_distinct", None)  # HLL estimates are engine-internal
def sketch_approx_distinct(spark, sf_dir):
    """HyperLogLog++ distinct estimation per event_type — the sketch
    aggregate a 100-TB pipeline uses where exact COUNT(DISTINCT) would
    shuffle every key (HLL registers are map-side mergeable, fixed-size
    state). rows-only: estimates are engine-specific; the ≤5%
    relative-error bound vs exact is pinned in pytest
    (test_operators.test_approx_count_distinct_error_bound)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.approx_count_distinct("event_id", rsd=0.02).alias("approx_events"),
    )


@register("sketch_count_min", value_oracles.lazy("sketch_count_min"))
def sketch_count_min(spark, sf_dir):
    """Deterministic count-min sketch (operators/sketch, d=4 w=64 —
    width deliberately small so collisions make the overestimate real at
    sf0.01) over (event_type|user_id) keys, point-queried for the 20
    hottest exact keys: (key, exact_cnt, cms_est), cms_est ≥ exact_cnt
    always. Unlike the HLL entry (engine-internal registers, rows-only),
    these counters are pure crc32 arithmetic — the twin re-derives every
    counter and the hash check is exact."""
    from cdrc_semantic_search_spark.operators.sketch import (
        cms_estimate,
        count_min_sketch,
    )

    ev = load(spark, sf_dir, "events").select(
        F.concat_ws(
            "|", F.col("event_type"), F.col("user_id").cast("string")
        ).alias("key")
    )
    exact = ev.groupBy("key").agg(F.count(F.lit(1)).alias("exact_cnt"))
    # top-20 via orderBy+limit (TakeOrderedAndProject: per-partition
    # top-k merged on the driver) instead of a row_number window over a
    # single-partition global sort — same deterministic total order
    # (exact_cnt desc, key asc), same 20 rows, no global sort exchange
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("key")).limit(20)
    sk = count_min_sketch(ev, "key", depth=4, width=64)
    est = cms_estimate(sk, top.select("key"), "key", depth=4, width=64)
    return top.join(est, "key").select("key", "exact_cnt", "cms_est")


@register(
    "ta_dup_ngram_fraction",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    g AS (
        SELECT doc_id, unnest(list_filter(
            CASE WHEN len(w) >= 5
                 THEN list_transform(range(1, len(w) - 3),
                                     i -> array_to_string(w[i:i+4], ' '))
                 ELSE [array_to_string(w, ' ')] END,
            s -> s <> '')) AS gram
        FROM t
    ),
    dg AS (SELECT DISTINCT doc_id, gram FROM g),
    freq AS (SELECT gram, COUNT(*) AS n_docs FROM dg GROUP BY gram)
    SELECT dg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_ngrams,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_ngrams,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS dup_fraction
    FROM dg JOIN freq USING (gram)
    GROUP BY dg.doc_id
    """,
)
def ta_dup_ngram_fraction(spark, sf_dir):
    """Gopher-style duplicate 5-gram fraction per document: the share of
    a doc's distinct word 5-grams that appear in any other document —
    the boilerplate/template filter of large-corpus curation. Two
    map-side-combined aggregations over the (doc, gram) key space; the
    oracle replicates the shingle construction (including the
    shorter-than-5-tokens degenerate join) in DuckDB list functions."""
    from cdrc_semantic_search_spark.operators.text_analysis import dup_ngram_fraction

    d = load(spark, sf_dir, "documents")
    return dup_ngram_fraction(d, "doc_id", "text", n=5)


@register(
    "ta_cooccurrence_lift",
    f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    tdf AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok),
    pairs AS (
        SELECT a.tok AS token_a, b.tok AS token_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    )
    SELECT token_a, token_b, n_ab,
           CAST(n_ab * n_docs AS DOUBLE) / (fa.df * fb.df) AS lift
    FROM pairs
    JOIN tdf fa ON fa.tok = token_a
    JOIN tdf fb ON fb.tok = token_b
    CROSS JOIN n
    """,
)
def ta_cooccurrence_lift(spark, sf_dir):
    """Token co-occurrence lift (PMI's ratio, log-free so the int/int
    double division hashes identically across engines) — the statistical
    relation-strength scorer a KG applies to candidate entity pairs.
    Distinct (doc, token) → per-doc self-join → pair counts vs
    independence baseline from document frequencies."""
    from cdrc_semantic_search_spark.operators.text_analysis import (
        cooccurrence_lift,
    )

    d = load(spark, sf_dir, "documents")
    return cooccurrence_lift(d, "doc_id", "text")


@register("ta_winnowing", value_oracles.lazy("ta_winnowing"))
def ta_winnowing(spark, sf_dir):
    """Winnowing fingerprint counts. xxhash64 isn't SQL-portable, so the
    oracle is a VALUES literal from a pure-Python twin that carries its
    own XXH64 (verified against public test vectors AND F.xxhash64 in
    tests/test_value_oracles.py)."""
    from cdrc_semantic_search_spark.operators.text_analysis import winnowing_fingerprints

    d = load(spark, sf_dir, "documents").filter("doc_id < 100")
    return d.select(
        "doc_id",
        F.size(winnowing_fingerprints(F.col("text"), k=5, window=4)).alias("n_fps"),
    )


# =====================================================================
