"""Spark mention/relation extraction and entity linking over transcript turns.

One ``mapInArrow`` family wrapping the pure extraction core
(operators/extraction_core.py).  The entity catalogue and the entity index
are broadcast once (``sc.broadcast``); each Python worker builds the alias
automaton a single time per broadcast epoch, then streams Arrow batches
through it.  Both operators share one worker-side linker (:class:`_Linker`):
exact alias hits first, then a per-broadcast-epoch cache of embedding
links filled by one batched ``_topk_blend`` call per batch for the
surfaces it has not seen.  The Python boundary is crossed once per batch,
with no pandas on either side of the worker.

The plan is map-only: extraction, alias linking and the embedding fallback
all run inside one Arrow stage against broadcast-only state, so the fact
table never shuffles.  Linking by joins instead (broadcast alias join,
``distinct`` over unresolved surfaces, join back) costs four exchanges and
runs the extraction UDF twice per plan.

Reference analog: the reference has no sub-chunk extraction (whole chunks
are the retrieval unit); this is the KG graft's D6 operator (SURVEY §2.11).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from cdrc_semantic_search_spark.encoder import normalize_surface
from cdrc_semantic_search_spark.operators.extraction_core import (
    AliasMatcher,
    extract_turn,
)
from cdrc_semantic_search_spark.operators.linking import _topk_blend

# worker-side matcher cache, keyed by a per-broadcast token: the automaton is
# built once per python worker per broadcast epoch, then reused across tasks
_MATCHER_CACHE: dict[str, AliasMatcher] = {}


def _get_matcher(bc) -> AliasMatcher:
    token, payload = bc.value  # bc.value itself is worker-cached by PySpark
    m = _MATCHER_CACHE.get(token)
    if m is None:
        m = AliasMatcher(payload)
        _MATCHER_CACHE.clear()
        _MATCHER_CACHE[token] = m
    return m


def broadcast_catalogue(spark, entities_pdf: pd.DataFrame):
    """Broadcast (token, [(entity_id, [canonical_name, *aliases])])."""
    import uuid

    payload = [
        (row.entity_id, [row.canonical_name, *list(row.aliases)])
        for row in entities_pdf.itertuples()
    ]
    return spark.sparkContext.broadcast((uuid.uuid4().hex, payload))


MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, mention_idx int, surface string, "
    "start int, end int, exact boolean, "
    "entity_id string, link_score double, link_method string"
)

TRIPLES_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, "
    "subj_entity_id string, pred string, obj_entity_id string, score double"
)

# per-worker embedding-link cache, keyed by (index broadcast token, link
# settings): normalized surface → (entity_id|None, score). Below-threshold
# surfaces keep their top-1 score with a None id; an empty candidate list
# stores NaN.
_LINK_CACHE: dict[tuple, dict[str, tuple[str | None, float]]] = {}


class _Linker:
    """Worker-side linker shared by both fused operators.

    ``links(keys)`` maps each normalized surface to ``(entity_id|None,
    score, link_method|None)``: alias hits are ``(id, 1.0, "alias")``,
    embedding links carry the top-1 blended score and ``"embed"``, and
    unlinked surfaces have a None id and method.  Surfaces repeat heavily
    (hot entities), so the embedding fallback only runs for keys missing
    from the cache, as one batched encode + top-k.
    """

    def __init__(self, bc_catalogue, bc_index, alpha, link_threshold, query_mode):
        self.matcher = _get_matcher(bc_catalogue)
        token, self.index = bc_index.value
        key = (token, alpha, link_threshold, query_mode)
        if key not in _LINK_CACHE:  # new broadcast epoch: drop stale caches
            _LINK_CACHE.clear()
            _LINK_CACHE[key] = {}
        self.cache = _LINK_CACHE[key]
        self.alias = self.matcher.alias_to_entity
        self.alpha, self.threshold, self.mode = alpha, link_threshold, query_mode

    def links(self, keys: set[str]) -> dict[str, tuple[str | None, float, str | None]]:
        cache, alias = self.cache, self.alias
        unknown = sorted(k for k in keys if k not in alias and k not in cache)
        if unknown:
            ranked = _topk_blend(
                self.index, unknown, k=1, alpha=self.alpha, mode=self.mode
            )
            for form, r in zip(unknown, ranked):
                if not r:
                    cache[form] = (None, float("nan"))
                elif r[0][1] >= self.threshold:
                    cache[form] = r[0]
                else:
                    cache[form] = (None, r[0][1])
        out = {}
        for k in keys:
            eid = alias.get(k)
            if eid is not None:
                out[k] = (eid, 1.0, "alias")
            else:
                eid, score = cache[k]
                out[k] = (eid, score, None if eid is None else "embed")
        return out


def _turn_columns(batch: pa.RecordBatch, idxs: list[int]) -> list[pa.Array]:
    """(conv_id, turn_idx, ts) of the input rows ``idxs``, in order."""
    take = pa.array(idxs, type=pa.int32())
    return [
        batch.column("conv_id").take(take).cast(pa.string()),
        batch.column("turn_idx").take(take).cast(pa.int32()),
        batch.column("ts").take(take),
    ]


def _triples_batch(batch: pa.RecordBatch, linker: _Linker) -> pa.RecordBatch:
    pending = []  # (row, pred, subj key, obj key)
    keys: set[str] = set()
    for i, t in enumerate(batch.column("text").to_pylist()):
        _, relations = extract_turn(t or "", linker.matcher)
        for pred, subj, obj in relations:
            s_key = normalize_surface(subj.surface)
            o_key = normalize_surface(obj.surface)
            keys.add(s_key)
            keys.add(o_key)
            pending.append((i, pred, s_key, o_key))
    links = linker.links(keys)

    idxs, c_s, c_p, c_o, c_sc = [], [], [], [], []
    for i, pred, s_key, o_key in pending:
        s_id, s_score, _ = links[s_key]
        o_id, o_score, _ = links[o_key]
        if s_id is not None and o_id is not None and s_id != o_id:
            idxs.append(i)
            c_s.append(s_id)
            c_p.append(pred)
            c_o.append(o_id)
            c_sc.append(s_score if s_score < o_score else o_score)
    return pa.RecordBatch.from_arrays(
        [
            *_turn_columns(batch, idxs),
            pa.array(c_s, type=pa.string()),
            pa.array(c_p, type=pa.string()),
            pa.array(c_o, type=pa.string()),
            pa.array(c_sc, type=pa.float64()),
        ],
        names=["conv_id", "turn_idx", "ts", "subj_entity_id", "pred", "obj_entity_id", "score"],
    )


def _mentions_batch(batch: pa.RecordBatch, linker: _Linker) -> pa.RecordBatch:
    idxs, c_mi, c_surf, c_start, c_end, c_exact, c_key = [], [], [], [], [], [], []
    for i, t in enumerate(batch.column("text").to_pylist()):
        mentions, _ = extract_turn(t or "", linker.matcher)
        for mi, m in enumerate(mentions):
            idxs.append(i)
            c_mi.append(mi)
            c_surf.append(m.surface)
            c_start.append(m.start)
            c_end.append(m.end)
            c_exact.append(m.exact)
            c_key.append(normalize_surface(m.surface))
    links = linker.links(set(c_key))
    linked = [links[k] for k in c_key]
    return pa.RecordBatch.from_arrays(
        [
            *_turn_columns(batch, idxs),
            pa.array(c_mi, type=pa.int32()),
            pa.array(c_surf, type=pa.string()),
            pa.array(c_start, type=pa.int32()),
            pa.array(c_end, type=pa.int32()),
            pa.array(c_exact, type=pa.bool_()),
            pa.array([e for e, _, _ in linked], type=pa.string()),
            pa.array([s for _, s, _ in linked], type=pa.float64()),
            pa.array([m for _, _, m in linked], type=pa.string()),
        ],
        names=[
            "conv_id", "turn_idx", "ts", "mention_idx", "surface", "start", "end",
            "exact", "entity_id", "link_score", "link_method",
        ],
    )


def _fused(body, schema, transcripts, bc_catalogue, bc_index, alpha, link_threshold, query_mode):
    def run(batches):
        linker = _Linker(bc_catalogue, bc_index, alpha, link_threshold, query_mode)
        for batch in batches:
            yield body(batch, linker)

    return transcripts.select("conv_id", "turn_idx", "ts", "text").mapInArrow(run, schema=schema)


def extract_linked_triples(
    transcripts: DataFrame,
    bc_catalogue,
    bc_index,
    alpha: float,
    link_threshold: float,
    query_mode: str = "hybrid",
) -> DataFrame:
    """transcripts → fully linked triples (``TRIPLES_SCHEMA``) in one
    ``mapInArrow`` pass.  A relation is kept when both arguments link to
    different entities; its score is the weaker of the two link scores."""
    return _fused(
        _triples_batch, TRIPLES_SCHEMA, transcripts, bc_catalogue, bc_index,
        alpha, link_threshold, query_mode,
    )


def extract_linked_mentions(
    transcripts: DataFrame,
    bc_catalogue,
    bc_index,
    alpha: float,
    link_threshold: float,
    query_mode: str = "hybrid",
) -> DataFrame:
    """transcripts → linked mentions (``MENTIONS_SCHEMA``) in one
    ``mapInArrow`` pass: one row per extracted mention, unlinked ones
    included (NULL ``entity_id`` and ``link_method``)."""
    return _fused(
        _mentions_batch, MENTIONS_SCHEMA, transcripts, bc_catalogue, bc_index,
        alpha, link_threshold, query_mode,
    )
