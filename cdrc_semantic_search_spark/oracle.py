"""Single-process reference-semantics oracle (no Spark).

A NumPy/pandas implementation of the full pipeline semantics — assembly →
extraction → linking → aggregation — over the deterministic fixture
(SURVEY §5.1).  The Spark pipeline must reproduce these triples exactly
(same extraction core, same encoder bits, same tie-breaks); parity vs the
generator's ground truth (fixtures.Fixture.truth_triples) is then the
P/R ≥ 0.95 gate from BASELINE.json.
"""

from __future__ import annotations

import pandas as pd

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.encoder import normalize_surface
from cdrc_semantic_search_spark.operators.extraction_core import AliasMatcher, extract_turn
from cdrc_semantic_search_spark.operators.linking import (
    EntityIndex,
    _topk_blend,
    build_entity_index,
)


def _link(
    surface: str, index: EntityIndex, settings: Settings
) -> tuple[str | None, float]:
    key = normalize_surface(surface)
    # exact alias path (score 1.0), else embedding+jaccard hybrid top-1
    try:
        i = index.forms.index(key)  # forms list is sorted; index() is fine at this scale
    except ValueError:
        i = -1
    if i >= 0:
        return str(index.entity_ids[i]), 1.0
    ranked = _topk_blend(
        index,
        [key],
        k=1,
        alpha=settings.retrieval.alpha,
        mode=settings.retrieval.query_mode,
    )[0]
    if not ranked:
        return None, float("nan")
    if ranked[0][1] >= settings.retrieval.link_threshold:
        return ranked[0][0], ranked[0][1]
    return None, ranked[0][1]  # unlinked: keeps its top-1 score


def _matcher_and_index(
    entities: pd.DataFrame, settings: Settings
) -> tuple[AliasMatcher, EntityIndex]:
    matcher = AliasMatcher(
        [(r.entity_id, [r.canonical_name, *list(r.aliases)]) for r in entities.itertuples()]
    )
    return matcher, build_entity_index(entities, settings)


def oracle_triples(
    transcripts: pd.DataFrame,
    entities: pd.DataFrame,
    settings: Settings | None = None,
) -> pd.DataFrame:
    """→ (conv_id, turn_idx, subj_entity_id, pred, obj_entity_id, score)."""
    settings = settings or Settings()
    matcher, index = _matcher_and_index(entities, settings)
    rows = []
    ordered = transcripts.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    for r in ordered.itertuples():
        _, relations = extract_turn(r.text or "", matcher)
        for pred, subj, obj in relations:
            s_id, s_score = _link(subj.surface, index, settings)
            o_id, o_score = _link(obj.surface, index, settings)
            if s_id is not None and o_id is not None and s_id != o_id:
                rows.append(
                    (r.conv_id, r.turn_idx, s_id, pred, o_id, min(s_score, o_score))
                )
    return pd.DataFrame(
        rows,
        columns=["conv_id", "turn_idx", "subj_entity_id", "pred", "obj_entity_id", "score"],
    )


def oracle_mentions(
    transcripts: pd.DataFrame,
    entities: pd.DataFrame,
    settings: Settings | None = None,
) -> pd.DataFrame:
    """→ (conv_id, turn_idx, mention_idx, surface, entity_id, link_score,
    link_method): one row per extracted mention, unlinked ones included."""
    settings = settings or Settings()
    matcher, index = _matcher_and_index(entities, settings)
    rows = []
    for r in transcripts.itertuples():
        mentions, _ = extract_turn(r.text or "", matcher)
        for mi, m in enumerate(mentions):
            eid, score = _link(m.surface, index, settings)
            if eid is None:
                method = None
            elif normalize_surface(m.surface) in matcher.alias_to_entity:
                method = "alias"
            else:
                method = "embed"
            rows.append((r.conv_id, r.turn_idx, mi, m.surface, eid, score, method))
    return pd.DataFrame(
        rows,
        columns=[
            "conv_id", "turn_idx", "mention_idx", "surface",
            "entity_id", "link_score", "link_method",
        ],
    )


def precision_recall(
    predicted: pd.DataFrame, truth: pd.DataFrame
) -> tuple[float, float]:
    """Set P/R over (conv_id, turn_idx, subj, pred, obj) tuples."""
    key_cols = ["conv_id", "turn_idx", "subj_entity_id", "pred", "obj_entity_id"]
    pred_set = {tuple(t) for t in predicted[key_cols].itertuples(index=False)}
    truth_set = {tuple(t) for t in truth[key_cols].itertuples(index=False)}
    if not pred_set or not truth_set:
        return 0.0, 0.0
    tp = len(pred_set & truth_set)
    return tp / len(pred_set), tp / len(truth_set)
