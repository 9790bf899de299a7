"""Spark mention/relation extraction and entity linking over transcript turns.

One worker body, :func:`extract_batch`, wraps the pure extraction core
(operators/extraction_core.py) in a ``mapInArrow`` pass.  The entity
catalogue and the entity index are broadcast once (``sc.broadcast``);
each Python worker builds the alias automaton a single time per broadcast
epoch, then streams Arrow batches through it.  The body extracts each
turn once and links its surfaces with one worker-side linker
(:class:`_Linker`): exact alias hits first, then a per-broadcast-epoch
cache of embedding links filled by one batched ``_topk_blend`` call per
batch for the surfaces it has not seen.  The Python boundary is crossed
once per batch, with no pandas on either side of the worker.

Three operators are cases of that body: ``extract_linked_triples`` and
``extract_linked_mentions`` build one output each, and ``extract_linked``
builds both in one tagged frame, which a caller that writes both persists
once and projects with :func:`triple_rows` / :func:`mention_rows`.

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
from pyspark.sql import functions as F

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


_TURN_DDL = "conv_id string, turn_idx int, ts timestamp"
_TRIPLE_DDL = "subj_entity_id string, pred string, obj_entity_id string, score double"
_MENTION_DDL = (
    "mention_idx int, surface string, start int, end int, exact boolean, "
    "entity_id string, link_score double, link_method string"
)
TRIPLES_SCHEMA = f"{_TURN_DDL}, {_TRIPLE_DDL}"
MENTIONS_SCHEMA = f"{_TURN_DDL}, {_MENTION_DDL}"
#: both outputs in one frame: ``is_triple`` tags each row, and a row is
#: NULL in the other output's columns
EXTRACTION_SCHEMA = f"is_triple boolean, {_TURN_DDL}, {_TRIPLE_DDL}, {_MENTION_DDL}"


def _names(ddl: str) -> list[str]:
    return [field.split()[0] for field in ddl.split(", ")]


TRIPLE_COLUMNS = _names(TRIPLES_SCHEMA)
MENTION_COLUMNS = _names(MENTIONS_SCHEMA)
EXTRACTION_COLUMNS = _names(EXTRACTION_SCHEMA)

# per-worker embedding-link cache, keyed by (index broadcast token, link
# settings): normalized surface → (entity_id|None, score). Below-threshold
# surfaces keep their top-1 score with a None id; an empty candidate list
# stores NaN.
_LINK_CACHE: dict[tuple, dict[str, tuple[str | None, float]]] = {}


class _Linker:
    """Worker-side linker of :func:`extract_batch`.

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


def extract_batch(
    batch: pa.RecordBatch, linker: _Linker, triples: bool, mentions: bool
) -> pa.RecordBatch:
    """The one worker body: ``extract_turn`` runs once per turn of
    ``batch`` and the linker once per batch, over the surfaces of the
    outputs asked for. → the triple rows (``TRIPLES_SCHEMA``), the
    mention rows (``MENTIONS_SCHEMA``), or both in one tagged batch
    (``EXTRACTION_SCHEMA``); the rows of an output not asked for are
    never built.

    A relation is kept when both arguments link to different entities;
    its score is the weaker of the two link scores. Every mention is
    kept, unlinked ones with a NULL ``entity_id`` and ``link_method``."""
    keys: set[str] = set()
    pending = []  # (row, pred, subj key, obj key)
    m_rows, m_idx, m_surf, m_start, m_end, m_exact, m_key = [], [], [], [], [], [], []
    for i, t in enumerate(batch.column("text").to_pylist()):
        found, relations = extract_turn(t or "", linker.matcher)
        if triples:
            for pred, subj, obj in relations:
                s_key = normalize_surface(subj.surface)
                o_key = normalize_surface(obj.surface)
                keys.add(s_key)
                keys.add(o_key)
                pending.append((i, pred, s_key, o_key))
        if mentions:
            for mi, m in enumerate(found):
                m_rows.append(i)
                m_idx.append(mi)
                m_surf.append(m.surface)
                m_start.append(m.start)
                m_end.append(m.end)
                m_exact.append(m.exact)
                m_key.append(normalize_surface(m.surface))
    keys.update(m_key)
    links = linker.links(keys)

    out = []
    if triples:
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
        out.append(pa.RecordBatch.from_arrays(
            [
                *_turn_columns(batch, idxs),
                pa.array(c_s, type=pa.string()),
                pa.array(c_p, type=pa.string()),
                pa.array(c_o, type=pa.string()),
                pa.array(c_sc, type=pa.float64()),
            ],
            names=TRIPLE_COLUMNS,
        ))
    if mentions:
        linked = [links[k] for k in m_key]
        out.append(pa.RecordBatch.from_arrays(
            [
                *_turn_columns(batch, m_rows),
                pa.array(m_idx, type=pa.int32()),
                pa.array(m_surf, type=pa.string()),
                pa.array(m_start, type=pa.int32()),
                pa.array(m_end, type=pa.int32()),
                pa.array(m_exact, type=pa.bool_()),
                pa.array([e for e, _, _ in linked], type=pa.string()),
                pa.array([s for _, s, _ in linked], type=pa.float64()),
                pa.array([m for _, _, m in linked], type=pa.string()),
            ],
            names=MENTION_COLUMNS,
        ))
    return out[0] if len(out) == 1 else _tagged(*out)


def _tagged(tri: pa.RecordBatch, men: pa.RecordBatch) -> pa.RecordBatch:
    """One ``EXTRACTION_SCHEMA`` batch: the triple rows, then the mention
    rows, each NULL in the other's columns."""
    cols = [pa.array([True] * tri.num_rows + [False] * men.num_rows, type=pa.bool_())]
    for name in EXTRACTION_COLUMNS[1:]:
        halves = [b.column(name) if name in b.schema.names else None for b in (tri, men)]
        typ = next(h.type for h in halves if h is not None)
        cols.append(pa.concat_arrays([
            h if h is not None else pa.nulls(b.num_rows, typ)
            for h, b in zip(halves, (tri, men))
        ]))
    return pa.RecordBatch.from_arrays(cols, names=EXTRACTION_COLUMNS)


def _extract(
    transcripts: DataFrame, bc_catalogue, bc_index, alpha, link_threshold, query_mode,
    triples: bool, mentions: bool,
) -> DataFrame:
    """One ``mapInArrow`` pass of :func:`extract_batch` over ``transcripts``."""
    schema = (
        EXTRACTION_SCHEMA if triples and mentions
        else TRIPLES_SCHEMA if triples
        else MENTIONS_SCHEMA
    )
    body = extract_batch  # bound on the driver; the closure ships it

    def run(batches):
        linker = _Linker(bc_catalogue, bc_index, alpha, link_threshold, query_mode)
        for batch in batches:
            yield body(batch, linker, triples, mentions)

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
    ``mapInArrow`` pass: :func:`extract_batch` building triple rows only."""
    return _extract(
        transcripts, bc_catalogue, bc_index, alpha, link_threshold, query_mode,
        triples=True, mentions=False,
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
    ``mapInArrow`` pass: :func:`extract_batch` building mention rows
    only, unlinked mentions included."""
    return _extract(
        transcripts, bc_catalogue, bc_index, alpha, link_threshold, query_mode,
        triples=False, mentions=True,
    )


def extract_linked(
    transcripts: DataFrame,
    bc_catalogue,
    bc_index,
    alpha: float,
    link_threshold: float,
    query_mode: str = "hybrid",
) -> DataFrame:
    """transcripts → triples AND mentions in one ``mapInArrow`` pass, as
    one tagged frame (``EXTRACTION_SCHEMA``): every turn is extracted and
    linked once for both. :func:`triple_rows` and :func:`mention_rows`
    project it back to the two one-output schemas."""
    return _extract(
        transcripts, bc_catalogue, bc_index, alpha, link_threshold, query_mode,
        triples=True, mentions=True,
    )


def is_tagged(df: DataFrame) -> bool:
    """Whether ``df`` is an :func:`extract_linked` frame."""
    return df.columns[:1] == [EXTRACTION_COLUMNS[0]]


def triple_rows(tagged: DataFrame) -> DataFrame:
    """The triples (``TRIPLES_SCHEMA``) of an :func:`extract_linked` frame."""
    return tagged.filter(F.col(EXTRACTION_COLUMNS[0])).select(*TRIPLE_COLUMNS)


def mention_rows(tagged: DataFrame) -> DataFrame:
    """The mentions (``MENTIONS_SCHEMA``) of an :func:`extract_linked` frame."""
    return tagged.filter(~F.col(EXTRACTION_COLUMNS[0])).select(*MENTION_COLUMNS)
