"""Text-analysis operators for training-data curation, all Catalyst-native
(zero Python in the hot path): language ID, quality scoring, token
counting, document fingerprinting.

These generalize the reference's text handling (HTML strip
query_api.py:93, query normalization cdrc_logs.py:12-35) into the
column-level metrics a 100-TB curation pipeline filters on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdrc_semantic_search_spark.functions.text import tokens

# tiny per-language stopword lists: enough signal for an n-gram heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"],
    "de": ["der", "die", "und", "das", "ein", "ist", "nicht", "mit", "den", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
}


def stopword_ratio_from_tokens(toks: Column, lang: str = "en") -> Column:
    """fraction of tokens that are stopwords of ``lang`` (``toks`` should be a
    projected column attribute so the tokenization is computed once)."""
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def detect_language_from_tokens(toks: Column) -> Column:
    """argmax over per-language stopword ratios; 'und' when all zero.

    Pass a PROJECTED token column (``df.withColumn("toks", tokens(c))``):
    Catalyst does not CSE the regexp tokenization across the four ratio
    expressions, so feeding ``tokens(text)`` inline re-splits the text once
    per language. A real attribute keeps one split per row (the projection
    boundary survives CollapseProject because the alias is non-cheap and
    multiply referenced).
    """
    pairs = [(lang, stopword_ratio_from_tokens(toks, lang)) for lang in _STOPWORDS]
    best_score = F.greatest(*[p[1] for p in pairs])
    out = F.lit("und")
    for lang, score in reversed(pairs):  # earlier langs win ties
        out = F.when((best_score > 0) & (score == best_score), F.lit(lang)).otherwise(out)
    return out


def detect_language(df: DataFrame, text_col: str, out_col: str = "lang_guess") -> DataFrame:
    """Attach an ``out_col`` language label per row (argmax stopword ratio).

    A deterministic n-gram-free heuristic: real deployments plug a model
    UDF here; the operator shape (text column in, label out) is what the
    pipeline depends on. DataFrame-level so the token array is projected
    once and shared by all four language scores.
    """
    with_toks = df.withColumn("__ta_toks", tokens(F.col(text_col)))
    return with_toks.withColumn(
        out_col, detect_language_from_tokens(F.col("__ta_toks"))
    ).drop("__ta_toks")


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Attach length/punctuation/stopword/repetition features + a blended
    quality score in [0,1] (heuristics in the Gopher/C4-rule family)."""
    t = F.col(text_col)
    df = df.withColumn("__q_toks", tokens(t))  # one split per row, shared below
    toks = F.col("__q_toks")
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    mean_word_len = F.when(n_tokens > 0, (F.length(F.regexp_replace(t, "[^A-Za-z0-9]", "")).cast("double")) / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0,
        (n_chars - F.length(F.regexp_replace(t, "[^A-Za-z0-9\\s]", ""))).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(n_tokens > 0, n_distinct.cast("double") / n_tokens).otherwise(F.lit(0.0))
    sw_ratio = stopword_ratio_from_tokens(toks)

    # blended score: reward moderate length, lexical diversity, some
    # stopwords (fluent prose), low punctuation noise
    len_score = F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0))
    score = (
        F.lit(0.3) * len_score
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.2) * F.least(sw_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(mean_word_len, 4).alias("q_mean_word_len"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        F.round(distinct_ratio, 4).alias("q_distinct_ratio"),
        F.round(sw_ratio, 4).alias("q_stopword_ratio"),
        F.round(score, 4).alias("q_score"),
    ).drop("__q_toks")


def quality_gate(
    df: DataFrame,
    text_col: str,
    min_tokens: int = 20,
    max_tokens: int = 200,
    min_distinct_ratio: float = 0.3,
) -> DataFrame:
    """The composed curation predicate: token-count band + lexical-
    diversity floor, Catalyst-only (one token projection per row). The
    SINGLE implementation behind the curation_filter and
    curation_pipeline registry queries — thresholds change in one place.
    """
    with_toks = df.withColumn("__qg_toks", tokens(F.col(text_col)))
    n = F.size(F.col("__qg_toks"))
    dr = F.when(
        n > 0, F.size(F.array_distinct(F.col("__qg_toks"))).cast("double") / n
    ).otherwise(F.lit(0.0))
    return (
        with_toks.filter(
            (n >= min_tokens) & (n <= max_tokens) & (dr >= min_distinct_ratio)
        ).drop("__qg_toks")
    )


def winnowing_fingerprints(text_col: Column, k: int = 5, window: int = 4) -> Column:
    """Winnowing (local-minima) fingerprint set over k-token shingle hashes.

    Classic plagiarism/near-dup sketch (Schleimer et al.): hash every
    k-shingle, keep the min hash of each sliding window of ``window``
    consecutive shingle hashes → array<long> (distinct, sorted).
    Catalyst-only: transform over index sequences.
    """
    from cdrc_semantic_search_spark.functions.text import word_shingles

    hashes = F.transform(word_shingles(text_col, k), lambda s: F.xxhash64(s))
    n = F.size(hashes)
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))
    mins = F.transform(starts, lambda i: F.array_min(F.slice(hashes, i, window)))
    return F.array_sort(F.array_distinct(mins))


#: explicit whitespace class — the shorthand classes are NOT engine-
#: identical (Java \s includes \x0B, RE2's does not; Python \d/\s are
#: Unicode-aware), so the patterns spell every class out and only \b
#: remains shorthand (ASCII word boundary, same [A-Za-z0-9_] word set
#: in Java-default and RE2)
_RX_WS = r" \t\n\x0B\f\r"

#: (label, pattern, replacement) applied IN ORDER — URL before email so a
#: userinfo URL ("https://user@host/...") redacts as one URL, not a URL
#: fragment plus an email; IP before phone so dotted quads never leave a
#: digit run for the looser phone pattern. Patterns use only explicit
#: character classes (see _RX_WS) so Java regex (Spark), RE2 (DuckDB)
#: and Python re agree byte-for-byte; the oracle SQL is GENERATED from
#: this list (catalog_queries._pii_oracle_sql) — one source of truth.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", rf"https?://[^{_RX_WS}]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9() -]{6,}[0-9]\b", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str, out_col: str = "text_redacted"
) -> DataFrame:
    """Replace e-mail addresses, URLs, IPv4 addresses and phone-like
    digit runs with typed placeholder tokens, plus per-category match
    counts — the standard PII scrub a training-data release runs over
    every text column (regex tier; NER-tier redaction is a model
    problem, out of scope like the encoder swap point).

    Adds ``out_col`` (the redacted text) and one ``n_<category>`` count
    column per :data:`PII_PATTERNS` entry. Counts are measured on the
    text AS SEEN BY that pattern's pass (after earlier replacements), so
    the categories never double-count one span and
    ``sum(n_*)`` = number of placeholders inserted.

    Scale: a chain of ``regexp_replace``/``regexp_count`` expressions —
    pure map work inside whole-stage codegen, no shuffle, no Python. At
    100 TB this is scan-bound, exactly like the F2 normalize chain.
    """
    cur = F.col(text_col)
    counts = []
    for label, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{label}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select("*", *counts, cur.alias(out_col))


def bigram_repetition(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signal: the share of a document's bigrams
    taken by its single most frequent bigram.

    100-TB shape: explode → two aggregations, both keyed by (doc, bigram)
    then doc — per-doc key spaces, so partial (map-side) aggregation does
    most of the work and nothing global is built.  Division is one
    int/int double op, bit-identical across engines (no rounding needed
    for the oracle hash).

    → (id_col, n_tokens, top_bigram_share) with share NULL when a doc has
    no bigrams.  Multiple rows per id are safe: bigrams form WITHIN each
    row (a per-row surrogate key partitions the position window, so tied
    (id, pos) pairs from different rows can never interleave into
    fabricated cross-row bigrams), while counts and the share aggregate
    per id across rows.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.monotonically_increasing_id().alias("__rid"),
        toks.alias("__toks"),
        F.size(toks).alias("__n"),
    )
    exploded = base.select(
        id_col, "__rid", F.posexplode("__toks").alias("__pos", "__tok")
    )
    w = Window.partitionBy("__rid").orderBy("__pos")
    bigrams = exploded.select(
        id_col,
        F.concat_ws(" ", F.col("__tok"), F.lead("__tok").over(w)).alias("__bg"),
        F.lead("__tok").over(w).alias("__nxt"),
    ).filter(F.col("__nxt").isNotNull())
    per_bg = bigrams.groupBy(id_col, "__bg").agg(F.count(F.lit(1)).alias("__c"))
    top = per_bg.groupBy(id_col).agg(F.max("__c").alias("__top"))
    per_doc = base.groupBy(id_col).agg(
        F.sum("__n").alias("n_tokens"),
        F.sum(F.greatest(F.col("__n") - F.lit(1), F.lit(0))).alias("__nbg"),
    )
    return per_doc.join(top, id_col, "left").select(
        id_col,
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (
            F.col("__top").cast("double") / F.col("__nbg").cast("double")
        ).alias("top_bigram_share"),  # NULL when no bigrams exist
    )


def common_token_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-frequency quality signal: mean corpus frequency of a doc's
    tokens — sum over tokens of global count(token), divided by
    (n_tokens × corpus_total_tokens).  High = the doc is made of the
    corpus's most common tokens (low information); low = rare-token text.

    All accumulation is INTEGER (exact, order-independent — the
    cross-engine float-mean trap in NOTES.md does not apply); the single
    final int/int double division is bit-identical across engines.

    100-TB shape: the corpus is scanned for (a) the vocabulary counts,
    (b) the fact join + per-doc aggregation, and (c) the corpus-total
    scalar — derived from the VOCAB aggregate (Σ counts ≡ total tokens),
    the cheapest branch to re-derive, and attached as a 1-row broadcast
    cross join.  Spark shares no subtrees across branches (NOTES.md), so
    deriving the total from the per-doc aggregate instead would re-plan
    the whole fact join (measured: 8 parquet scans in the executed
    plan vs 5); callers doing
    repeated scoring should persist the exploded frame themselves.  The
    vocab join is UN-hinted: on a web-scale corpus the distinct-token
    table is not broadcast-sized, so AQE picks the strategy.  Nothing
    executes eagerly at plan-construction time.
    """
    toks = tokens(F.col(text_col))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("__tok"))
    vocab = exploded.groupBy("__tok").agg(F.count(F.lit(1)).alias("__gc"))
    total = vocab.agg(F.sum("__gc").cast("long").alias("__total"))
    agg = (
        exploded.join(vocab, "__tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__gc").cast("long").alias("sum_gc"),
        )
    )
    return agg.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        (
            F.col("sum_gc").cast("double")
            / (F.col("n_tokens") * F.col("__total")).cast("double")
        ).alias("common_score"),
    )


def dup_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Cross-document duplicate n-gram signal (the Gopher/MassiveText
    "duplicate 5-gram fraction" quality filter): per document, the share
    of its DISTINCT word n-grams that occur in at least one OTHER
    document. High = boilerplate/templated text; pipelines drop or
    down-weight above a threshold.

    → (id_col, n_distinct_ngrams, n_shared_ngrams, dup_fraction). The
    final int/int double division is bit-identical across engines; all
    accumulation is integer.

    100-TB shape: distinct (doc, gram) pairs then a gram-keyed
    document-frequency count — both per-key aggregations with map-side
    partials, nothing global beyond the gram key space. The exchange
    carries gram STRINGS here (keeps the DuckDB oracle exact); at real
    scale swap the key to xxhash64(gram) before the shuffle — 8 bytes
    per key, same counts (the 16-byte-digest discipline dedup_exact
    already uses), collision odds ~n²/2⁶⁴.
    """
    from cdrc_semantic_search_spark.functions.text import word_shingles

    dg = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("__g"),
    ).distinct()
    freq = dg.groupBy("__g").agg(F.count(F.lit(1)).alias("__docs"))
    # the doc-frequency table is gram-keyed like dg: the join reuses the
    # gram-hash partitioning of the distinct, so only freq's (small)
    # aggregate output moves
    return (
        dg.join(freq, "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_ngrams"),
            F.sum(F.when(F.col("__docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_ngrams"),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_shared_ngrams").cast("double")
            / F.col("n_distinct_ngrams").cast("double"),
        )
    )


def cooccurrence_lift(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_pair_count: int = 1,
    cache_handle: list | None = None,
) -> DataFrame:
    """Token co-occurrence lift per unordered pair — PMI's ratio without
    the log, the statistical relation-strength scorer a KG uses to weight
    candidate (entity, entity) edges beyond raw counts:

        lift(a, b) = P(a, b) / (P(a) · P(b))
                   = n_ab · N / (n_a · n_b)     over document sets

    lift > 1 = the pair co-occurs more than independence predicts (a
    real association); < 1 = avoidance. All counts are integers and the
    single int/int double division is bit-identical across engines — no
    log, no rounding discipline needed (log-PMI = ln(lift) is one map
    away when a caller wants it).

    → (token_a, token_b, n_ab, lift) for pairs with n_ab ≥
    ``min_pair_count``, token_a < token_b.

    100-TB shape: one distinct over (doc, token) — map-side combined —
    then a per-doc self-join whose fan-out is quadratic in the PER-DOC
    DISTINCT token count, not the corpus. For entity co-occurrence that
    count is the entities-per-conversation (tens); for open-vocabulary
    text, cap the per-doc distinct set or drop stop-tokens first — same
    DF-cap guard as ngram_jaccard_pairs (operators/dedup.py). The
    doc-frequency table joins the pair aggregate on the token key —
    AQE-broadcast at any realistic vocabulary.

    The (doc, token) distinct is cached — three plan branches read it
    (doc-frequency + both self-join sides). Pass a list as
    ``cache_handle`` to receive it and unpersist after consuming the
    result; otherwise the ContextCleaner reclaims the blocks when
    references drop.
    """
    items = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens(F.col(text_col))).alias("__item"),
    )
    n_docs = df.select(id_col).distinct().count()
    return cooccurrence_lift_items(
        items, "__doc", "__item", n_docs,
        min_pair_count=min_pair_count, cache_handle=cache_handle,
    )


def cooccurrence_lift_items(
    items: DataFrame,
    doc_col: str,
    item_col: str,
    n_docs: int | None,
    min_pair_count: int = 1,
    cache_handle: list | None = None,
) -> DataFrame:
    """The item-level core of :func:`cooccurrence_lift`: ``items`` is any
    (doc, item) membership frame — tokens in documents, ENTITIES in
    conversations (KGPipeline.entity_cooccurrence), products in baskets.
    ``n_docs`` is the caller's universe size (P(a) = df_a / n_docs);
    pass ``None`` to use the number of docs WITH ≥1 item, counted over
    the persisted (doc, item) cache — the count action populates the
    cache, so an expensive upstream plan (e.g. the extraction UDF)
    executes exactly once (ADVICE r4). Callers whose universe includes
    item-less docs must count and pass n_docs themselves.
    Rows need not be distinct; multiplicity within a doc collapses."""
    dt = items.select(
        F.col(doc_col).alias("__doc"), F.col(item_col).alias("__tok")
    ).distinct()
    dt = dt.persist()
    if cache_handle is not None:
        cache_handle.append(dt)
    if n_docs is None:
        n_docs = dt.select("__doc").distinct().count()
    tok_df = dt.groupBy(F.col("__tok")).agg(F.count(F.lit(1)).alias("__df"))
    a = dt.select(F.col("__doc"), F.col("__tok").alias("token_a"))
    b = dt.select(F.col("__doc"), F.col("__tok").alias("token_b"))
    pairs = (
        a.join(b, "__doc")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    dfa = tok_df.select(F.col("__tok").alias("token_a"), F.col("__df").alias("__na"))
    dfb = tok_df.select(F.col("__tok").alias("token_b"), F.col("__df").alias("__nb"))
    out = (
        pairs.join(dfa, "token_a")
        .join(dfb, "token_b")
        .select(
            "token_a",
            "token_b",
            "n_ab",
            (
                (F.col("n_ab") * F.lit(n_docs)).cast("double")
                / (F.col("__na") * F.col("__nb")).cast("double")
            ).alias("lift"),
        )
    )
    return out


# -------------------------------------------------- n-gram LM scoring
def _bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair; docs with fewer
    than two tokens contribute nothing. One regexp split per row (the
    token array is a projected attribute, see detect_language)."""
    t = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return t.select(id_col, F.explode(bg).alias("bg")).select(
        id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )


def bigram_cross_entropy(
    df: DataFrame, ref: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document cross-entropy under an add-one-smoothed bigram LM
    trained on ``ref`` — the CCNet-style perplexity quality filter
    (Wenzek et al. 2020): docs whose text looks nothing like the
    reference corpus score high and get filtered before training.

    LM: P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), with c(w1·) the bigram
    CONTEXT count and V the reference's distinct-token vocabulary.
    Returns (id, n_bigrams, ce) with ce = −mean log P, ROUND 6.

    Scale shape: the reference corpus is a bounded sample by
    construction (CCNet trains its LM on a fixed curated corpus, not on
    the 100-TB input), so both count tables and the vocabulary scalar
    are broadcast — the full-corpus bigram stream is scored map-side
    and the only shuffle is the final per-doc aggregation on ``id``.

    Cross-engine exactness: each per-bigram log-prob is rounded to 7
    decimals and summed as DECIMAL(18,7) (order-independent, exact);
    the probability itself is a division of identical integers so both
    engines take ln() of the same double. ln may differ by 1 ulp
    between libms — the round-7 guard makes a flip need a ~1e-16
    coincidence, the ROUND(6) tolerance class the registry already
    accepts (catalog_queries.py module doc).
    """
    doc_bi = _bigrams(df, id_col, text_col)
    cb, cu, vocab = _bigram_lm(ref, id_col, text_col)
    scored = (
        doc_bi.join(F.broadcast(cb), ["w1", "w2"], "left")
        .join(F.broadcast(cu), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, _lm_term("cb", "cu", "v").alias("term"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            -F.sum("term").cast("double") / F.count(F.lit(1)), 6
        ).alias("ce"),
    )


def _bigram_lm(ref: DataFrame, id_col: str, text_col: str):
    """Broadcastable add-one-bigram-LM state over a bounded reference
    corpus: ((w1,w2)→cb counts, w1→cu context counts, 1-row vocab size) —
    the shared build for :func:`bigram_cross_entropy` and
    :func:`dsir_importance`.

    The reference is scanned once per count table (twice + vocab). A
    persist-cb-and-derive-cu variant (cu(w1) = Σ_w2 cb(w1,w2)) was
    A/B-measured a wash at bench scale (+0.02 s) while leaking one
    cached frame per call — the reference corpus is a BOUNDED sample by
    contract, so its extra scan is not the cost anywhere; rejected."""
    ref_bi = _bigrams(ref, id_col, text_col)
    cb = ref_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = ref_bi.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vocab = (
        ref.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return cb, cu, vocab


def _lm_term(cb: str, cu: str, v: str) -> Column:
    """Per-bigram round-7 decimal log-prob term (see bigram_cross_entropy's
    cross-engine-exactness note); identical expression tree in both the
    single-LM and fused two-LM scorers."""
    return (
        F.round(
            F.log(
                (F.coalesce(F.col(cb), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col(cu), F.lit(0)) + F.col(v))
            ),
            7,
        )
        .cast("decimal(18,7)")
    )


def dsir_importance(
    df: DataFrame,
    target_ref: DataFrame,
    source_ref: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al., "Data
    Selection for Language Models via Importance Resampling", NeurIPS
    2023 — public literature): per document,
    ``importance = mean log P_target(bigram) − mean log P_source(bigram)``
    under two add-one bigram LMs — documents that look more like the
    TARGET distribution than the raw SOURCE score high and win the
    resampling lottery. Expressed as the difference of the two
    :func:`bigram_cross_entropy` scores (ce = −mean log P, so
    importance = ce_source − ce_target).

    → (id, n_bigrams, ce_target, ce_source, importance round 6).

    Scale shape: both reference LMs are bounded samples (broadcast count
    tables) and the corpus bigram stream is tokenized, exploded and
    scored against BOTH LMs in ONE map-side pass — one corpus scan, one
    per-doc aggregation, no join of two score tables. (The original
    formulation called :func:`bigram_cross_entropy` twice and joined on
    the doc id: two full tokenize+explode passes over the 100-TB side
    plus an id-keyed join, for term values that are computed from the
    same bigram rows — guide §2.3 "don't compute things you throw
    away" / §2.4 "remove shuffles outright". The per-term expression,
    decimal sums and round-6 tail are byte-identical to the two-pass
    form, so ce/importance values are unchanged — the driver oracle
    hash-checks this.)
    """
    doc_bi = _bigrams(df, id_col, text_col)
    tcb, tcu, tv = _bigram_lm(target_ref, id_col, text_col)
    scb, scu, sv = _bigram_lm(source_ref, id_col, text_col)
    scored = (
        doc_bi.join(
            F.broadcast(tcb.withColumnRenamed("cb", "__cbt")), ["w1", "w2"], "left"
        )
        .join(F.broadcast(tcu.withColumnRenamed("cu", "__cut")), ["w1"], "left")
        .crossJoin(F.broadcast(tv.withColumnRenamed("v", "__vt")))
        .join(
            F.broadcast(scb.withColumnRenamed("cb", "__cbs")), ["w1", "w2"], "left"
        )
        .join(F.broadcast(scu.withColumnRenamed("cu", "__cus")), ["w1"], "left")
        .crossJoin(F.broadcast(sv.withColumnRenamed("v", "__vs")))
        .select(
            id_col,
            _lm_term("__cbt", "__cut", "__vt").alias("__tt"),
            _lm_term("__cbs", "__cus", "__vs").alias("__ts"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                -F.sum("__tt").cast("double") / F.count(F.lit(1)), 6
            ).alias("ce_target"),
            F.round(
                -F.sum("__ts").cast("double") / F.count(F.lit(1)), 6
            ).alias("ce_source"),
        )
        .select(
            id_col,
            "n_bigrams",
            "ce_target",
            "ce_source",
            F.round(F.col("ce_source") - F.col("ce_target"), 6).alias("importance"),
        )
    )
