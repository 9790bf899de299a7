"""Pure-Python mention/relation extraction core.

Shared verbatim by the Spark operators (inside ``mapInArrow`` batches,
operators/extraction.py) and the single-process oracle (oracle.py), so the
distributed pipeline and the reference-semantics oracle agree by
construction on extraction behavior; parity against generator ground
truth is then a real measure of semantic quality.

Reference analog: the reference treats a whole chunk as the retrieval unit
(no sub-chunk mention detection); mention/relation extraction is the
KG-graft's new operator (SURVEY §2.11 D6).  The linking stage it feeds is
the analog of the reference's top-k cosine retrieval
(/root/reference/src/model.py:73-79).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from cdrc_semantic_search_spark.encoder import normalize_surface

# predicate phrases anchored in turn text, longest first so "is located in"
# wins over a bare "in"; keys must match fixtures.PRED_PHRASE values
PRED_PATTERNS: list[tuple[str, str]] = [
    ("located_in", "is located in"),
    ("derived_from", "is derived from"),
    ("relates_to", "relates to"),
    ("uses_tool", "uses tool"),
    ("mentions", "mentions"),
]

_PRED_RE = re.compile(
    "|".join(f"(?P<p{i}>\\b{re.escape(ph)}\\b)" for i, (_, ph) in enumerate(PRED_PATTERNS))
)
#: named-group → predicate key, so the hot loop does a dict get instead of
#: a linear generator scan per predicate match
_GROUP_TO_PRED = {f"p{i}": name for i, (name, _) in enumerate(PRED_PATTERNS)}
_SENT_BOUND = re.compile(r"[.!?]")


@dataclass(frozen=True)
class Mention:
    start: int
    end: int
    surface: str
    exact: bool  # True when the surface is a known catalogue alias


_WORD_RE = re.compile(r"[A-Za-z0-9']+")

#: ASCII-only lowercase translation table: maps exactly 'A'-'Z' to
#: 'a'-'z' and nothing else, so it is LENGTH-PRESERVING on any input
#: (str.lower() is not: e.g. 'İ'.lower() is two code points, which would
#: shift every downstream mention offset). The token regex matches only
#: ASCII letters, so per-token lower() and whole-text ASCII-translate
#: yield identical token text — one C-level pass instead of one lower()
#: call per token.
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


class AliasMatcher:
    """Longest-match, case-insensitive alias automaton over the catalogue.

    Built once per executor process from the broadcast entity catalogue.
    Matching is token-sequence based (an Aho-Corasick-lite keyed on the
    first token) — O(tokens × candidates-at-token), NOT an O(alternatives)
    regex alternation, so it stays fast with thousands of alias forms.
    ``alias_to_entity`` maps normalized surface → entity_id (ambiguous
    aliases resolve to the smallest entity_id — deterministic tie-break,
    FIXTURES.md §3).
    """

    def __init__(self, names_and_aliases: list[tuple[str, list[str]]]):
        alias_to_entity: dict[str, str] = {}
        by_first: dict[str, list[tuple[str, ...]]] = {}
        seen_seqs: set[tuple[str, ...]] = set()
        for entity_id, surface_forms in names_and_aliases:
            for form in surface_forms:
                key = normalize_surface(form)
                if not key:
                    continue
                prev = alias_to_entity.get(key)
                if prev is None or entity_id < prev:
                    alias_to_entity[key] = entity_id
                seq = tuple(w.lower() for w in _WORD_RE.findall(form))
                if seq and seq not in seen_seqs:
                    seen_seqs.add(seq)
                    by_first.setdefault(seq[0], []).append(seq)
        for seqs in by_first.values():
            seqs.sort(key=len, reverse=True)  # longest-match-first
        self.alias_to_entity = alias_to_entity
        self._by_first = by_first

    def find(self, text: str) -> list[Mention]:
        # three parallel lists instead of one tuple list: the hot loop
        # below indexes words ~6x per token, and list-of-str indexing +
        # C-level tuple compare beat per-access tuple unpacking (measured
        # ~25% off the whole extract_turn wall at fixture shape)
        starts: list[int] = []
        ends: list[int] = []
        words: list[str] = []
        for m in _WORD_RE.finditer(text.translate(_ASCII_LOWER)):
            starts.append(m.start())
            ends.append(m.end())
            words.append(m.group())
        out: list[Mention] = []
        i = 0
        n = len(words)
        by_first = self._by_first
        while i < n:
            cands = by_first.get(words[i])
            matched = False
            if cands:
                for seq in cands:  # longest first
                    ln = len(seq)
                    j = i + ln
                    # ln == 1 needs no body check; longer sequences compare
                    # the whole window as ONE C-level tuple equality
                    if j <= n and (ln == 1 or tuple(words[i:j]) == seq):
                        start, end = starts[i], ends[j - 1]
                        out.append(Mention(start, end, text[start:end], True))
                        i = j
                        matched = True
                        break
            if not matched:
                i += 1
        return out


def _span_candidate(text: str, lo: int, hi: int) -> Mention | None:
    """Fallback mention: the sentence-bounded span [lo, hi), lead-words trimmed.

    Catches surfaces that are not catalogue aliases (typos, novel forms) —
    they are linked later via the embedding index (the reference's dense
    retrieval path) instead of the exact alias map.
    """
    seg = text[lo:hi]
    # strip discourse lead-ins that templates/users prepend
    stripped = re.sub(
        r"^(?:note that|i found that|records show|and|also|that)\s+",
        "",
        seg.strip(" ,;:"),
        flags=re.IGNORECASE,
    )
    stripped = stripped.strip(" ,;:.!?")
    if len(stripped) < 3:
        return None
    s = lo + max(seg.find(stripped), 0)
    return Mention(s, s + len(stripped), stripped, False)


def extract_turn(
    text: str, matcher: AliasMatcher
) -> tuple[list[Mention], list[tuple[str, Mention, Mention]]]:
    """→ (mentions, relations) for one turn.

    Relations anchor on predicate phrases: subj = nearest mention ending at
    or before the phrase, obj = nearest mention starting at or after its
    end — both constrained to the same sentence.  Missing side falls back
    to the sentence-bounded span candidate.
    """
    mentions = matcher.find(text)
    relations: list[tuple[str, Mention, Mention]] = []
    for pm in _PRED_RE.finditer(text):
        pred = _GROUP_TO_PRED[pm.lastgroup]
        p_start, p_end = pm.start(), pm.end()
        # sentence bounds around the predicate
        s_lo = 0
        for b in _SENT_BOUND.finditer(text, 0, p_start):
            s_lo = b.end()
        nb = _SENT_BOUND.search(text, p_end)
        s_hi = nb.start() if nb else len(text)

        subj = max(
            (m for m in mentions if s_lo <= m.start and m.end <= p_start),
            key=lambda m: m.end,
            default=None,
        ) or _span_candidate(text, s_lo, p_start)
        obj = min(
            (m for m in mentions if m.start >= p_end and m.end <= s_hi),
            key=lambda m: m.start,
            default=None,
        ) or _span_candidate(text, p_end, s_hi)
        if subj is not None and obj is not None:
            relations.append((pred, subj, obj))

    # fallback spans that became relation arguments count as mentions too
    extra = [m for _, s, o in relations for m in (s, o) if not m.exact]
    seen = {(m.start, m.end) for m in mentions}
    for m in extra:
        if (m.start, m.end) not in seen:
            seen.add((m.start, m.end))
            mentions.append(m)
    mentions.sort(key=lambda m: (m.start, m.end))
    return mentions, relations
