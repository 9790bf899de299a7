"""Output checks: each cycle's graph against the oracle.

Every check is one operation of the result's ``attempted`` count; a check
that does not hold, or that raises, counts as ``failed``. The checks also
return the counts the per-layer metrics report.
"""

from __future__ import annotations

import sys
import traceback
from collections import Counter

import pandas as pd

from cdrc_semantic_search_spark.encoder import normalize_surface
from inputs import EDGE_KEY, Inputs

TRIPLE_KEY = ["conv_id", "turn_idx", *EDGE_KEY]


def _rows(frame: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(map(tuple, frame[cols].itertuples(index=False, name=None)))


def _triples(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    def key(f):
        return _rows(f.assign(score=f["score"].round(6), turn_idx=f["turn_idx"].astype(int)),
                     [*TRIPLE_KEY, "score"])

    return key(got) == key(want)


def _edges(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    def key(f):
        return _rows(
            f.assign(
                weight=f["weight"].astype(int),
                first_ts=pd.to_datetime(f["first_ts"]).astype("int64"),
                last_ts=pd.to_datetime(f["last_ts"]).astype("int64"),
            ),
            [*EDGE_KEY, "weight", "first_ts", "last_ts"],
        )

    return key(got) == key(want)


def _nodes(got: pd.DataFrame, inputs: Inputs) -> bool:
    ids = list(inputs.entities["entity_id"])
    if sorted(got["entity_id"]) != sorted(ids):
        return False
    want = inputs.expected.node_mentions
    return all(
        int(n) == want.get(e, 0) for e, n in zip(got["entity_id"], got["n_mentions"])
    )


def _clusters(got: pd.DataFrame, inputs: Inputs) -> bool:
    """Every distinct surface exactly once, linked as the oracle links it,
    under a canonical surface that is the smallest member of its cluster."""
    want = inputs.expected.surfaces
    surfaces = list(got["surface"])
    if len(surfaces) != len(set(surfaces)) or set(surfaces) != set(want):
        return False
    linked = {s: (None if pd.isna(e) else e) for s, e in zip(got["surface"], got["entity_id"])}
    if linked != want:
        return False
    canon = dict(zip(got["surface"], got["canonical_surface"]))
    return all(c in canon and canon[c] == c and c <= s for s, c in canon.items())


def check(workload: str, inputs: Inputs, out: dict) -> tuple[dict[str, bool], dict]:
    """→ ({check name: passed}, counts for the per-layer metrics)."""
    exp = inputs.expected
    tests = {
        "triples": lambda: _triples(out["triples"], exp.triples),
        "kg_edges": lambda: _edges(out["kg_edges"], exp.edges),
        "kg_nodes": lambda: _nodes(out["kg_nodes"], inputs),
        "surface_clusters": lambda: _clusters(out["surface_clusters"], inputs),
    }
    if workload == "kg_build":
        men = out["mentions"]
        tests["mentions"] = lambda: (
            len(men) == exp.mentions
            and int(men["entity_id"].notna().sum()) == int(out["kg_nodes"]["n_mentions"].sum())
        )
    results = {}
    for name, test in tests.items():
        try:
            results[name] = bool(test())
        except Exception:  # a malformed output is a failed check, not a crash
            traceback.print_exc(file=sys.stderr)
            results[name] = False
    return results, counts(inputs, out)


def counts(inputs: Inputs, out: dict) -> dict:
    clusters = out["surface_clusters"]
    forms = {
        normalize_surface(f)
        for r in inputs.entities.itertuples()
        for f in (r.canonical_name, *r.aliases)
    }
    linked = clusters[clusters["entity_id"].notna()]
    n = len(clusters)
    base = out.get("base_surfaces", 0)  # kg_stream: surfaces already in the history
    return {
        "turns": inputs.turns,
        "triples": len(out["triples"]),
        "mentions": int(out["kg_nodes"]["n_mentions"].sum()),
        "embed_ratio": float((~linked["surface"].isin(forms)).sum() / max(len(linked), 1)),
        "unlinked_ratio": float((n - len(linked)) / max(n, 1)),
        "surfaces": n,
        "new_surfaces": n - base,
        "clusters": int(clusters["canonical_surface"].nunique()),
    }
