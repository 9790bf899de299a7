"""Entity linking: alias lookup + top-k cosine over a broadcast entity index.

This is the re-expression of the reference's retrieval core:

* Pinecone cosine index (/root/reference/src/datastore.py:80-95) →
  an in-memory **EntityIndex** (unit-normalized float32 matrix over every
  canonical name + alias form) broadcast to executors.
* hybrid dense+sparse top-k query, α-blended
  (/root/reference/src/model.py:73-79, config/config.toml:13-15) →
  NumPy BLAS matmul + ``argpartition`` top-k inside one Arrow batch,
  blended with a token-Jaccard sparse score:
  ``score = α·cosine + (1−α)·jaccard``.
* top-k tie-break: (score desc, entity_id asc) — FIXTURES.md §3.

Physical strategy (100-TB reasoning): the mention side is huge, the
entity side is small (thousands) — so the big side NEVER shuffles for
linking.  Per-mention linking runs inside the fused extraction stage
(operators/extraction): an exact alias lookup on the normalized surface,
then ``_topk_blend`` over the broadcast index for the surfaces a worker
has not seen yet, cached per broadcast epoch — no join touches the facts.
The multi-candidate paths below (:func:`candidate_entities`,
:func:`collective_link_mentions`) run over DISTINCT surfaces and join back
broadcast.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.encoder import encode_texts, normalize_surface

@dataclass
class EntityIndex:
    """Pre-built embedding index over entity surface forms (Pinecone analog)."""

    entity_ids: np.ndarray  # (M,) object — entity id per form row
    forms: list[str]  # normalized surface forms
    matrix: np.ndarray  # (M, dim) float32 unit-normalized
    token_sets: list[frozenset]  # sparse-side lexical features per form
    dim: int
    seed: int = 42
    ngram: int = 3
    # sparse inverted index: token → sorted form-row indices. EXACT candidate
    # source for α=0 scoring (any form with Jaccard > 0 shares ≥ 1 token) —
    # the analog of querying the reference's sparse vector store directly.
    token_postings: dict | None = None

    def encode(self, texts: list[str]) -> np.ndarray:
        return encode_texts(texts, dim=self.dim, seed=self.seed, ngram=self.ngram)


def build_entity_index(entities_pdf: pd.DataFrame, settings: Settings) -> EntityIndex:
    """Encode canonical_name + every alias; one index row per distinct form.

    Ambiguous forms keep the smallest entity_id (deterministic tie-break).
    """
    form_to_entity: dict[str, str] = {}
    for row in entities_pdf.itertuples():
        for form in [row.canonical_name, *list(row.aliases)]:
            key = normalize_surface(form)
            if not key:
                continue
            prev = form_to_entity.get(key)
            if prev is None or row.entity_id < prev:
                form_to_entity[key] = row.entity_id
    forms = sorted(form_to_entity)
    enc = settings.encoder
    matrix = encode_texts(forms, dim=enc.embed_dim, seed=enc.seed, ngram=enc.ngram)
    token_sets = [frozenset(f.split()) for f in forms]
    postings: dict[str, list[int]] = {}
    for i, ts in enumerate(token_sets):
        for t in ts:
            postings.setdefault(t, []).append(i)  # i ascending by construction
    return EntityIndex(
        entity_ids=np.array([form_to_entity[f] for f in forms], dtype=object),
        forms=forms,
        matrix=matrix,
        token_sets=token_sets,
        dim=enc.embed_dim,
        seed=enc.seed,
        ngram=enc.ngram,
        token_postings=postings,
    )


def norm_surface_col(col):
    """Catalyst twin of encoder.normalize_surface (lower, collapse ws, trim).

    Python's ``str.split()`` splits on Unicode whitespace plus the four
    ASCII separators U+001C-U+001F. Java's default ``\\s`` is ASCII-only;
    under ``(?U)`` it is Unicode ``White_Space``, which lacks just those
    four, so the class adds them."""
    return F.trim(F.regexp_replace(F.lower(col), r"(?U)[\s\x1c-\x1f]+", " "))


def _topk_blend(
    index: EntityIndex,
    surfaces: list[str],
    k: int,
    alpha: float,
    mode: str = "hybrid",
) -> list[list[tuple[str, float]]]:
    """Per surface: top-k (entity_id, blended score), deduped by entity,
    ordered by (score desc, entity_id asc).

    ``mode`` mirrors the reference's vector_store_query_mode enum
    (/root/reference/src/common/utils.py:30): ``default`` = dense-only,
    ``sparse`` = lexical-only, ``hybrid`` = α·dense + (1−α)·sparse
    (model.py:74-78). Effective weights: default → α=1; sparse → α=0.

    BATCH-COMPOSITION INDEPENDENCE: the batched GEMM only PRESELECTS a
    candidate pool with a 1e-5 score margin; every returned score is then
    recomputed as an exact per-pair float32 dot (a single vector-vector
    BLAS call whose inputs — one index row, one encoded surface — do not
    depend on what else is in the batch). GEMM kernel blocking varies
    with the batch's shape and perturbs scores by ~2.7e-7 (measured),
    which flipped candidate SETS for near-tied forms when this function
    ran under different mapInPandas partitionings; with the margin +
    exact rescore, identical (surface, index) pairs yield identical bits
    in any batch — pinned by test_topk_blend_batch_invariance.
    """
    if not surfaces:
        return []
    if mode == "default":
        alpha = 1.0
    elif mode == "sparse":
        alpha = 0.0
    m = len(index.forms)
    if alpha > 0.0:
        q = index.encode(surfaces)  # same encoder config as the index rows
        sims = q @ index.matrix.T  # (B, M) BLAS
    else:
        # sparse/α=0: dense contributes nothing, so candidates must NOT be
        # dense-gated — gate by the sparse inverted index instead (the
        # reference queries its sparse store directly, utils.py:30). Exact:
        # any form with Jaccard > 0 shares ≥ 1 token with the query; forms
        # sharing none score 0 and are correctly absent (no-overlap
        # surfaces stay UNLINKED rather than tie-breaking onto an
        # arbitrary 0.0-scored entity).
        sims = None
    kk = min(max(k * 4, k), m)  # extra form rows; dedupe to k entities
    out: list[list[tuple[str, float]]] = []
    for bi, surf in enumerate(surfaces):
        stoks = frozenset(normalize_surface(surf).split())
        if sims is not None:
            row = sims[bi]
            if kk < m:
                # margin-padded pool: anything within 1e-5 of the kk-th
                # GEMM score stays in; the exact rescore below decides
                thr = np.partition(row, m - kk)[m - kk] - 1e-5
                cand = np.nonzero(row >= thr)[0]
            else:
                cand = np.arange(m)
        elif index.token_postings is not None:
            row = None
            hits: set[int] = set()
            for t in stoks:
                hits.update(index.token_postings.get(t, ()))
            cand = sorted(hits)
        else:
            row = None
            cand = range(m)
        best: dict[str, float] = {}
        for ci in cand:
            # exact per-pair dot: bit-identical in every batch composition
            dense = (
                float(np.dot(index.matrix[ci], q[bi])) if row is not None else 0.0
            )
            ts = index.token_sets[ci]
            union = len(stoks | ts)
            jac = (len(stoks & ts) / union) if union else 0.0
            score = alpha * dense + (1.0 - alpha) * jac
            eid = index.entity_ids[ci]
            if eid not in best or score > best[eid]:
                best[eid] = score
        ranked = sorted(best.items(), key=lambda t: (-t[1], t[0]))[:k]
        out.append(ranked)
    return out


def candidate_entities(
    surfaces_df: DataFrame, bc_index, settings: Settings, k: int = 3
) -> DataFrame:
    """distinct surfaces → TOP-K candidate links (surface, entity_id,
    score), one row per (surface, candidate) — the multi-candidate
    sibling of the fused linker in operators/extraction (which keeps
    only the argmax).  Scores are rounded to 4 digits to absorb float32 batch-composition
    noise in the BLAS matmul (same mitigation as the fused triple linker;
    every fixture margin is ≥ 1e-5 from a boundary, noise is ~1e-7)."""
    alpha = settings.retrieval.alpha
    mode = settings.retrieval.query_mode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _token, index = bc_index.value
        for pdf in batches:
            surfaces = pdf["surface"].fillna("").tolist()
            ranked = _topk_blend(index, surfaces, k=k, alpha=alpha, mode=mode)
            rows = [
                (surf, eid, score)
                for surf, cands in zip(surfaces, ranked)
                for eid, score in cands
            ]
            yield pd.DataFrame(
                rows, columns=["surface", "entity_id", "score"]
            )

    out = surfaces_df.select("surface").mapInPandas(
        run, schema="surface string, entity_id string, score double"
    )
    return out.withColumn("score", F.round("score", 4))


def collective_link_mentions(
    mentions: DataFrame,
    bc_index,
    settings: Settings,
    k: int = 3,
    beta: float = 0.25,
) -> DataFrame:
    """Collective (coherence-reranked) entity disambiguation: each
    mention's top-k candidates are rescored by how many OTHER mentions in
    the same conversation also carry that entity as a candidate, then the
    argmax is kept —
    ``final = score + β · (support − 1) / max(n_mentions − 1, 1)``.
    This is the classic collective-entity-linking step (document-level
    topical coherence breaks ties the per-mention cosine cannot — the
    stage the reference's per-query retrieval
    (/root/reference/src/model.py:73-79) has no analog for, because a
    single search query has no peers to vote with). Ties on the final
    score resolve to the smallest entity_id — fully deterministic.

    Returns (conv_id, turn_idx, mention_idx, surface, entity_id, support,
    final_score); ``surface`` is the NORMALIZED form.

    100-TB shape: candidate generation runs over DISTINCT normalized
    surfaces (map-only against the broadcast index) and re-joins
    broadcast, so the mention fact table never shuffles for linking; the
    two aggregates (per-(conv, entity) support, per-conv mention count)
    and their re-joins are all keyed on conv_id — one co-partitioned
    exchange family — and the final argmax is a map-side-combinable
    min-of-struct aggregation, not a window sort. Hot-conversation skew
    is bounded: a conversation's candidate rows are ≤ k × its mentions.
    """
    ment = mentions.select(
        "conv_id",
        "turn_idx",
        "mention_idx",
        norm_surface_col(F.col("surface")).alias("surface"),
    )
    distinct_surfaces = ment.select("surface").distinct()
    cands = candidate_entities(distinct_surfaces, bc_index, settings, k=k)
    mc = ment.join(F.broadcast(cands), "surface")
    support = mc.groupBy("conv_id", "entity_id").agg(
        F.count(F.lit(1)).alias("support")
    )
    n_ment = ment.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_ment"))
    scored = (
        mc.join(support, ["conv_id", "entity_id"])
        .join(n_ment, "conv_id")
        .withColumn(
            "final",
            F.col("score")
            + F.lit(beta)
            * (
                (F.col("support") - F.lit(1)).cast("double")
                / F.greatest(F.col("n_ment") - F.lit(1), F.lit(1)).cast("double")
            ),
        )
    )
    best = (
        scored.groupBy("conv_id", "turn_idx", "mention_idx")
        .agg(
            F.min(
                F.struct(
                    (-F.col("final")).alias("nf"),
                    F.col("entity_id").alias("eid"),
                    F.col("support").alias("support"),
                    F.col("surface").alias("surface"),
                    F.col("final").alias("final"),
                )
            ).alias("t")
        )
        .select(
            "conv_id",
            "turn_idx",
            "mention_idx",
            F.col("t.surface").alias("surface"),
            F.col("t.eid").alias("entity_id"),
            F.col("t.support").alias("support"),
            F.round(F.col("t.final"), 6).alias("final_score"),
        )
    )
    return best


def reciprocal_best_match(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Entity ALIGNMENT between two KG snapshots by reciprocal nearest
    neighbor: a pair (x ∈ A, y ∈ B) aligns iff y is x's cosine top-1 in
    B AND x is y's top-1 in A — the standard mutual-NN criterion
    embedding-based KG merge pipelines gate on (one-directional top-1
    produces many-to-one collapses; reciprocity is the cheap filter
    that kills them). Ties break by smallest candidate id — fully
    deterministic, same ordering contract as topk_cosine_exact.

    → (id_a, id_b, score) with score the shared cosine, rounded 6.

    Scale shape: two :func:`~cdrc_semantic_search_spark.operators.
    similarity.topk_cosine_exact` passes (each broadcasts ONE side —
    alignment runs catalogue-vs-catalogue, both entity dims, not fact
    tables) and an equi-join of the two 1-row-per-id result tables on
    the agreeing pair. For catalogues too big to broadcast, swap the
    exact kernel for the IVF/PQ path (operators/similarity) — the
    reciprocity join is unchanged.
    """
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_cosine_exact,
    )

    ab = topk_cosine_exact(
        a.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        b.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        k=1,
    )
    ba = topk_cosine_exact(
        b.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        a.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        k=1,
    )
    fwd = ab.select(
        F.col("q_id").alias("id_a"), F.col("c_id").alias("id_b"),
        F.col("score").alias("score"),
    )
    rev = ba.select(
        F.col("c_id").alias("id_a"), F.col("q_id").alias("id_b"),
    )
    return fwd.join(rev, ["id_a", "id_b"]).select(
        "id_a", "id_b", F.round("score", 6).alias("score")
    )
