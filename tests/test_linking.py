from __future__ import annotations

import unicodedata

import pandas as pd

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.operators.linking import _topk_blend, build_entity_index

ENTS = pd.DataFrame(
    [
        {"entity_id": "E1", "canonical_name": "Index of Multiple Deprivation", "aliases": ["IMD"]},
        {"entity_id": "E2", "canonical_name": "Multiple Index Catalogue", "aliases": []},
        {"entity_id": "E3", "canonical_name": "Retail Footfall Camera", "aliases": []},
    ]
)


def _index():
    return build_entity_index(ENTS, Settings())


def test_modes_mirror_reference_enum():
    idx = _index()
    surf = ["index of multiple deprivationX"]  # near-typo of E1
    dense = _topk_blend(idx, surf, k=3, alpha=0.75, mode="default")[0]
    sparse = _topk_blend(idx, surf, k=3, alpha=0.75, mode="sparse")[0]
    hybrid = _topk_blend(idx, surf, k=3, alpha=0.75, mode="hybrid")[0]
    assert dense[0][0] == "E1" and hybrid[0][0] == "E1"
    # sparse scores are pure token Jaccard ∈ [0,1] and rank E1/E2 over E3
    assert all(0.0 <= s <= 1.0 for _, s in sparse)
    assert sparse[0][0] in ("E1", "E2")
    assert sparse[-1][0] == "E3" or len(sparse) < 3
    # hybrid score = 0.75·dense + 0.25·sparse for the same entity
    d = dict(dense)
    s = dict(_topk_blend(idx, surf, k=3, alpha=0.75, mode="sparse")[0])
    h = dict(hybrid)
    for eid in set(d) & set(s) & set(h):
        assert abs(h[eid] - (0.75 * d[eid] + 0.25 * s[eid])) < 1e-9


def test_tiebreak_score_desc_entity_asc():
    idx = _index()
    # identical surfaces → identical scores per entity; order deterministic
    a = _topk_blend(idx, ["Index of Multiple Deprivation"], k=3, alpha=0.75)[0]
    b = _topk_blend(idx, ["Index of Multiple Deprivation"], k=3, alpha=0.75)[0]
    assert a == b
    assert a[0][0] == "E1" and a[0][1] > a[1][1]


def test_topk_blend_batch_invariance():
    """_topk_blend must yield bit-identical (entity, score) lists for a
    surface regardless of batch composition — mapInPandas partitionings
    differ between runs/cluster sizes, and the GEMM preselect's kernel
    blocking perturbs raw scores by ~2.7e-7 (measured), which once
    flipped candidate sets for near-tied forms. The margin-padded pool +
    exact per-pair rescore makes every batching agree."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.operators.linking import (
        _topk_blend,
        build_entity_index,
    )

    fx = fixtures.generate(seed=42, n_conversations=12, n_entities=60)
    settings = Settings()
    index = build_entity_index(fx.entities, settings)
    surfaces = sorted(
        {f for forms in ([r.canonical_name, *list(r.aliases)] for r in fx.entities.itertuples()) for f in forms}
    )[:80]
    a, m = settings.retrieval.alpha, settings.retrieval.query_mode
    full = _topk_blend(index, surfaces, k=3, alpha=a, mode=m)
    single = [_topk_blend(index, [s], k=3, alpha=a, mode=m)[0] for s in surfaces]
    rev = _topk_blend(index, list(reversed(surfaces)), k=3, alpha=a, mode=m)[::-1]
    assert full == single
    assert full == rev


def test_collective_link_coherence_flips_ambiguous_mention(spark):
    """An ambiguous surface whose best PER-MENTION candidate is E1 must
    flip to E2 once three same-conversation mentions vote for E2's
    neighborhood (support E2=4 vs E1=1); an identical lone mention in a
    second conversation must keep the per-mention argmax."""
    import pandas as pd

    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.operators.linking import (
        build_entity_index,
        collective_link_mentions,
    )

    ents = pd.DataFrame(
        {
            "entity_id": ["E1", "E2", "E5", "E6", "E7"],
            "canonical_name": [
                "atlas survey grid",
                "atlas survey graph",
                "spectral chart zone",
                "spectral graph panel",
                "chart panel zone",
            ],
            "aliases": [[], ["spectral graph chart"], [], [], []],
            "entity_type": ["d"] * 5,
        }
    )
    settings = Settings()
    index = build_entity_index(ents, settings)
    bc = spark.sparkContext.broadcast(("t", index))
    mentions = spark.createDataFrame(
        [
            ("c1", 0, 0, "atlas survey"),
            ("c1", 1, 0, "spectral graph chart"),
            ("c1", 2, 0, "spectral graph chart"),
            ("c1", 3, 0, "spectral graph chart"),
            ("c2", 0, 0, "atlas survey"),
        ],
        "conv_id string, turn_idx int, mention_idx int, surface string",
    )
    out = collective_link_mentions(mentions, bc, settings, k=3, beta=0.25)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["entity_id"], r["support"])
        for r in out.collect()
    }
    assert got[("c1", 0)][0] == "E2"  # flipped by coherence
    assert got[("c1", 0)][1] == 4
    assert got[("c2", 0)][0] == "E1"  # lone mention: per-mention argmax
    assert got[("c1", 1)] == ("E2", 4)
    # partition invariance of the whole operator
    out2 = collective_link_mentions(
        mentions.repartition(4), bc, settings, k=3, beta=0.25
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_norm_surface_col_matches_normalize_surface_on_separators(spark):
    """The Catalyst surface normalization collapses exactly the whitespace
    the Python one does, over every space, separator, control and format
    code point."""
    from pyspark.sql import functions as F

    from cdrc_semantic_search_spark.encoder import normalize_surface
    from cdrc_semantic_search_spark.operators.linking import norm_surface_col

    texts = [
        f" A{chr(c)}B{chr(c)}"
        for c in range(0x110000)
        if not 0xD800 <= c <= 0xDFFF
        and (
            chr(c).isspace()
            or unicodedata.category(chr(c)) in ("Zs", "Zl", "Zp", "Cc", "Cf")
        )
    ]
    got = (
        spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
        .select("i", norm_surface_col(F.col("t")).alias("n"))
        .collect()
    )
    mismatched = [
        hex(ord(texts[r["i"]][2]))
        for r in got
        if r["n"] != normalize_surface(texts[r["i"]])
    ]
    assert len(got) == len(texts)
    assert not mismatched, f"{len(mismatched)} mismatched: {mismatched}"
