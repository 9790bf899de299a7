"""Registry chunk: transcript analytics + PII redaction + collective linking.

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

# transcript analytics (payload-native ops over (conv_id, turn_idx,
# role, text, tool, ts) — operators/transcript_analytics.py)
# =====================================================================

def _fixture_turns(spark):
    """The deterministic transcript fixture as a Spark frame — the same
    (seed=42, 40 convs, 100 entities) instance the kg_* queries pin, so
    the VALUES twins in value_oracles.py derive from identical rows."""
    from cdrc_semantic_search_spark import fixtures

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    return tdf


@register("tr_tool_transitions", value_oracles.lazy("tr_tool_transitions"))
def tr_tool_transitions(spark, sf_dir):
    """Tool-call sequence mining: counts of consecutive tool invocations
    within a conversation (lag window over the stable (conv_id,
    turn_idx) order — the W5 ordering contract). Oracle: pure-Python
    twin over the same fixture rows."""
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        tool_transition_counts,
    )

    return tool_transition_counts(_fixture_turns(spark))


@register("tr_turn_latency", value_oracles.lazy("tr_turn_latency"))
def tr_turn_latency(spark, sf_dir):
    """Per-role response-latency rollup: integer-second gap to the
    previous turn of the conversation, summed/maxed per responding role
    (integer-exact — no float summation-order hazard in the hash)."""
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        turn_latency_stats,
    )

    return turn_latency_stats(_fixture_turns(spark))


@register("tr_role_balance", value_oracles.lazy("tr_role_balance"))
def tr_role_balance(spark, sf_dir):
    """Per-conversation role mix (user/assistant/tool turn counts) — the
    first-line corpus health metric; one map-side-combined groupBy on
    the table's natural key."""
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        role_balance,
    )

    return role_balance(_fixture_turns(spark))


@register("tr_qa_pairs", value_oracles.lazy("tr_qa_pairs"))
def tr_qa_pairs(spark, sf_dir):
    """Question-answer pair mining: user turns containing '?' answered by
    the immediately following assistant turn, with character lengths —
    one lead window over the stable (conv_id, turn_idx) order, no join.
    Oracle: pure-Python twin over the same fixture rows."""
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        qa_pair_mining,
    )

    return qa_pair_mining(_fixture_turns(spark))


@register("tr_qa_overlap", value_oracles.lazy("tr_qa_overlap"))
def tr_qa_overlap(spark, sf_dir):
    """Question↔answer token-set Jaccard
    (transcript_analytics.qa_lexical_overlap): the answer-relevance
    proxy over mined QA pairs — shared Catalyst tokens kernel,
    array_intersect/union sets, guarded int/int division. Oracle:
    pure-Python twin via the pinned _tokens kernel."""
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        qa_lexical_overlap,
    )

    return qa_lexical_overlap(_fixture_turns(spark))


@register("tr_topic_segments", value_oracles.lazy("tr_topic_segments"))
def tr_topic_segments(spark, sf_dir):
    """Embedding-drift conversation segmentation (transcript_analytics.
    topic_segments): encode each turn (Arrow-batched pandas UDF), lag
    the vector over the stable conversation order, start a segment where
    fold-cosine to the previous turn drops below τ=0.15 — integer-only
    output (conv_id, turn_idx, segment_id). Oracle: pure-Python twin
    over the shared encode + fold-cosine kernels."""
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.encoder import make_encoder_udf
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        topic_segments,
    )

    enc = Settings().encoder
    encode = make_encoder_udf(dim=enc.embed_dim, seed=enc.seed, ngram=enc.ngram)
    turns = _fixture_turns(spark).withColumn(
        "vec", encode(F.coalesce(F.col("text"), F.lit("")))
    )
    return topic_segments(turns, "vec", threshold=0.15)


@register("tr_salient_turns", value_oracles.lazy("tr_salient_turns"))
def tr_salient_turns(spark, sf_dir):
    """Top-3 most-central turns per conversation (transcript_analytics.
    salient_turns): fold-cosine to the DECIMAL-exact conversation
    centroid, ties broken by earliest turn — the representative-turn
    selector for summarization/labeling. Oracle: pure-Python twin
    replicating the decimal centroid (BigDecimal.valueOf cast
    semantics) and the exact fold score."""
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.encoder import make_encoder_udf
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        salient_turns,
    )

    enc = Settings().encoder
    encode = make_encoder_udf(dim=enc.embed_dim, seed=enc.seed, ngram=enc.ngram)
    turns = _fixture_turns(spark).withColumn(
        "vec", encode(F.coalesce(F.col("text"), F.lit("")))
    )
    return salient_turns(turns, "vec", top_k=3)


@register("tr_tool_retries", value_oracles.lazy("tr_tool_retries"))
def tr_tool_retries(spark, sf_dir):
    """Tool retry-run mining: maximal runs (length ≥ 2) of consecutive
    same-tool calls in each conversation's tool-call sequence — the
    run-length-encode-by-window idiom (lag boundary flag + running sum
    run id, one shuffle)."""
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        tool_retry_runs,
    )

    return tool_retry_runs(_fixture_turns(spark))


# =====================================================================
# PII redaction (operators/text_analysis.redact_pii)
# =====================================================================

# the documents fixture carries no PII, so the query plants a
# deterministic contact line derived from doc_id — identically in the
# Spark plan and the DuckDB oracle — and redacts it. || of the SAME
# expressions keeps both sides byte-identical pre-redaction.
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via "
    "https://ex.org/d/' || CAST(doc_id AS VARCHAR) || ' or +1 415 555 '"
    " || CAST(doc_id AS VARCHAR) || ' host 10.0.' || "
    "CAST(doc_id % 200 AS VARCHAR) || '.7'"
)


def _pii_oracle_sql() -> str:
    """Generate the ta_redact_pii oracle from PII_PATTERNS itself — one
    source of truth, so editing/reordering the policy list can never
    leave the oracle silently testing a different policy. DuckDB's
    standard single-quote strings pass backslashes through literally,
    so the raw patterns land in RE2 unchanged (only quotes escape)."""
    from cdrc_semantic_search_spark.operators.text_analysis import PII_PATTERNS

    sql = (
        "WITH d AS (\n"
        f"    SELECT doc_id, text || {_PII_SUFFIX_SQL} AS t0\n"
        "    FROM documents WHERE doc_id < 200\n)"
    )
    cols: list[str] = []
    for i, (label, pat, repl) in enumerate(PII_PATTERNS, start=1):
        p = pat.replace("'", "''")
        carried = ", ".join(["doc_id"] + cols)
        src = "d" if i == 1 else f"s{i - 1}"
        sql += (
            f",\ns{i} AS (\n"
            f"    SELECT {carried},\n"
            f"        CAST(len(regexp_extract_all(t{i - 1}, '{p}')) AS INTEGER) AS n_{label},\n"
            f"        regexp_replace(t{i - 1}, '{p}', '{repl}', 'g') AS t{i}\n"
            f"    FROM {src}\n)"
        )
        cols.append(f"n_{label}")
    sql += (
        f"\nSELECT doc_id, {', '.join(cols)}, t{len(PII_PATTERNS)} AS text_redacted"
        f"\nFROM s{len(PII_PATTERNS)}"
    )
    return sql


@register("ta_redact_pii", _pii_oracle_sql)
def ta_redact_pii(spark, sf_dir):
    """PII scrub over text: URL → e-mail → IPv4 → phone placeholder
    substitution with per-category counts (operators/text_analysis.
    redact_pii). The oracle applies the IDENTICAL pattern sequence via
    DuckDB's RE2 — an independent regex engine agreeing on every byte of
    the redacted text is the cross-check."""
    from cdrc_semantic_search_spark.operators.text_analysis import redact_pii

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    decorated = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com via https://ex.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" or +1 415 555 "), F.col("doc_id").cast("string"),
            F.lit(" host 10.0."), (F.col("doc_id") % 200).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    out = redact_pii(decorated, "text")
    return out.select(
        "doc_id", "n_url", "n_email", "n_ipv4", "n_phone", "text_redacted"
    )


# =====================================================================
# collective entity linking (operators/linking.collective_link_mentions)
# =====================================================================

@register("kg_collective_linking", value_oracles.lazy("kg_collective_linking"))
def kg_collective_linking(spark, sf_dir):
    """Coherence-reranked entity disambiguation over the deterministic
    transcript fixture: per-mention top-3 candidates from the broadcast
    index, rescored by within-conversation candidate support
    (final = score + 0.25·(support−1)/max(n_mentions−1, 1)), argmax by
    min-of-struct. Oracle: pure-Python twin sharing the _topk_blend
    specification kernel, re-deriving mention extraction, support counts
    and the exact double arithmetic independently."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    return KGPipeline(spark, fx.entities).collective_mentions(tdf)


# =====================================================================
