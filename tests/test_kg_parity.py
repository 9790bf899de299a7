"""The correctness gate (BASELINE.json): triple P/R ≥ 0.95 + per-turn text
equality under stable (conv_id, turn_idx) ordering."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.oracle import (
    oracle_mentions,
    oracle_triples,
    precision_recall,
)
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

KEY = ["conv_id", "turn_idx", "subj_entity_id", "pred", "obj_entity_id"]
MENTION_KEY = ["conv_id", "turn_idx", "mention_idx", "surface", "entity_id", "link_method"]


def test_oracle_matches_ground_truth(fixture):
    pred = oracle_triples(fixture.transcripts, fixture.entities, Settings())
    p, r = precision_recall(pred, fixture.truth_triples)
    assert p >= 0.95, f"oracle precision {p:.3f}"
    assert r >= 0.95, f"oracle recall {r:.3f}"


def test_spark_matches_ground_truth(spark, fixture, spark_fixture):
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    got = pipe.triples(tdf).toPandas()
    p, r = precision_recall(got, fixture.truth_triples)
    assert p >= 0.95, f"spark precision {p:.3f}"
    assert r >= 0.95, f"spark recall {r:.3f}"


def test_spark_triples_equal_oracle_exactly(spark, fixture, spark_fixture):
    """Spark and the single-process oracle share extraction + encoder bits;
    their triple sets must be identical, not merely close."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    got = pipe.triples(tdf).toPandas()
    want = oracle_triples(fixture.transcripts, fixture.entities, Settings())
    got_set = {tuple(t) for t in got[KEY].itertuples(index=False)}
    want_set = {tuple(t) for t in want[KEY].itertuples(index=False)}
    assert got_set == want_set


def _mention_rows(df: pd.DataFrame) -> dict:
    """(conv, turn, mention_idx, surface, entity_id, method) → link_score,
    with NaN mapped to None so that NaN compares equal to NaN."""
    df = df.astype(object).where(df.notna(), None)
    return {
        tuple(r[c] for c in MENTION_KEY): r["link_score"] for _, r in df.iterrows()
    }


def test_spark_equals_oracle_per_mode(spark, fixture, spark_fixture):
    """Spark ≡ oracle for EVERY query_mode of the reference enum
    (utils.py:30) — guards the mode plumbing end-to-end (the round-1 oracle
    silently stayed hybrid; ADVICE.md). Covers both fused outputs: the
    triple sets, and every mention with its link and exact link score.
    The last case raises the link threshold so that some embedding links
    fall below it and stay unlinked with their top-1 score."""
    from cdrc_semantic_search_spark.config import RetrievalSettings

    tdf, _ = spark_fixture
    cases = [RetrievalSettings(query_mode=m) for m in ("default", "sparse", "hybrid")]
    cases.append(RetrievalSettings(query_mode="hybrid", link_threshold=0.78))
    seen = set()
    for retrieval in cases:
        mode = (retrieval.query_mode, retrieval.link_threshold)
        settings = Settings(retrieval=retrieval)
        pipe = KGPipeline(spark, fixture.entities, settings)
        got = pipe.triples(tdf).toPandas()
        want = oracle_triples(fixture.transcripts, fixture.entities, settings)
        got_set = {tuple(t) for t in got[KEY].itertuples(index=False)}
        want_set = {tuple(t) for t in want[KEY].itertuples(index=False)}
        assert got_set == want_set, f"mode={mode}: spark/oracle triple sets differ"

        got_m = pipe.mentions(tdf).select(*MENTION_KEY, "link_score").toPandas()
        want_m = oracle_mentions(fixture.transcripts, fixture.entities, settings)
        assert len(got_m) == len(want_m), f"mode={mode}: mention counts differ"
        assert _mention_rows(got_m) == _mention_rows(want_m), (
            f"mode={mode}: spark/oracle mentions differ"
        )
        seen |= set(want_m["link_method"].fillna("unlinked"))
        if want_m.loc[want_m["entity_id"].isna(), "link_score"].notna().any():
            seen.add("unlinked with score")
    # the cases reach every link outcome
    assert seen == {"alias", "embed", "unlinked", "unlinked with score"}


def test_fused_outputs_empty_input(spark, fixture, spark_fixture):
    """An input with no rows gives empty triples and mentions frames that
    still carry their declared schemas."""
    from cdrc_semantic_search_spark.operators.extraction import (
        MENTIONS_SCHEMA,
        TRIPLES_SCHEMA,
    )

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    empty = tdf.filter("conv_id = 'nope'")
    for df, ddl in ((pipe.triples(empty), TRIPLES_SCHEMA), (pipe.mentions(empty), MENTIONS_SCHEMA)):
        want = spark.createDataFrame([], ddl).schema
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in want
        ]
        assert df.count() == 0


def test_fused_extraction_results_unchanged_by_input_partitioning(
    spark, fixture, spark_fixture
):
    # the fused extraction operators run one mapInArrow over whatever
    # partitioning they are given: the triple and mention multisets must
    # not depend on it
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    par = spark.sparkContext.defaultParallelism
    wide = tdf.repartition(par * 4).localCheckpoint()
    for op in (pipe.triples, pipe.mentions):
        assert sorted(map(tuple, op(tdf).collect())) == sorted(
            map(tuple, op(wide).collect())
        )


def test_per_turn_text_equality_under_stable_ordering(spark, fixture, spark_fixture):
    """input_hint invariant: whatever the partitioning, each assembled
    conversation is its turns' byte-identical text in turn_idx order."""
    from cdrc_semantic_search_spark.operators.assembly import (
        TURN_SEP,
        assemble_conversations,
    )

    tdf, _ = spark_fixture
    src = fixture.transcripts.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["text"]
    want = pd.DataFrame({"text": src.agg(TURN_SEP.join), "n": src.size()})
    # block_size=3 splits conversations across blocks, so the block-level
    # concat order is checked as well as the turn-level one
    for block_size in (1024, 3):
        got = (
            assemble_conversations(tdf.repartition(7), block_size=block_size)
            .toPandas()
            .set_index("conv_id")
            .sort_index()
        )
        assert list(got.index) == list(want.index)
        assert (got["conversation_text"] == want["text"]).all()
        assert (got["n_turns"] == want["n"]).all()


def test_parity_at_canonical_fixture_size(spark):
    """The P/R ≥ 0.95 gate at the FIXTURES.md §1 spec size (200
    conversations / 500 entities — harder linking than the small fixture;
    measured ≈ 0.977, α=0.75 optimal across the sweep)."""
    from cdrc_semantic_search_spark import fixtures as fxmod

    fx = fxmod.generate(seed=42, n_conversations=200, n_entities=500)
    tdf, _ = fxmod.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    got = pipe.triples(tdf).toPandas()
    p, r = precision_recall(got, fx.truth_triples)
    assert p >= 0.95, f"precision {p:.4f}"
    assert r >= 0.95, f"recall {r:.4f}"


def test_triple_scores_bounded(spark, fixture, spark_fixture):
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    got = pipe.triples(tdf).agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    ).collect()[0]
    assert 0.0 <= got["lo"] <= got["hi"] <= 1.0


def test_entity_cooccurrence_matches_hand_math(spark, fixture, spark_fixture):
    """entity_cooccurrence ≡ hand-computed lift over per-conversation
    distinct entity sets derived from the same mentions frame."""
    from collections import defaultdict

    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
    from cdrc_semantic_search_spark.config import Settings

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    mentions = pipe.mentions(tdf)
    rows = mentions.filter("entity_id IS NOT NULL").select(
        "conv_id", "entity_id"
    ).collect()
    sets = defaultdict(set)
    for r in rows:
        sets[r.conv_id].add(r.entity_id)
    n = len(sets)
    df_count = defaultdict(int)
    pair_count = defaultdict(int)
    for ents in sets.values():
        for e in ents:
            df_count[e] += 1
        es = sorted(ents)
        for i in range(len(es)):
            for j in range(i + 1, len(es)):
                pair_count[(es[i], es[j])] += 1
    want = {
        (a, b): (c, c * n / (df_count[a] * df_count[b]))
        for (a, b), c in pair_count.items()
        if c >= 2
    }
    got = {
        (r.token_a, r.token_b): (r.n_ab, r.lift)
        for r in KGPipeline.entity_cooccurrence(mentions).collect()
    }
    assert got == want
    assert len(got) > 0


def test_pipeline_collective_and_communities(spark, fixture):
    """The two new pipeline stages run end-to-end on the fixture: every
    collectively-linked mention resolves to a catalogue entity, flipping
    is bounded to coherence (support never below 1), and
    entity_communities yields one community per entity with the
    modularity gate passing at a permissive floor and raising at an
    impossible one."""
    import pytest as _pytest

    from cdrc_semantic_search_spark import fixtures as fx_mod
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    tdf, _ = fx_mod.to_spark(spark, fixture)
    pipe = KGPipeline(spark, fixture.entities)
    cm = pipe.collective_mentions(tdf).collect()
    assert cm, "fixture has mentions"
    eids = set(fixture.entities.entity_id)
    assert all(r["entity_id"] in eids for r in cm)
    assert all(r["support"] >= 1 for r in cm)

    edges = pipe.kg_edges(pipe.triples(tdf))
    comm = pipe.entity_communities(edges, min_modularity=-1.0)
    rows = comm.collect()
    assert len(rows) == len({r["entity_id"] for r in rows})
    with _pytest.raises(ValueError, match="modularity"):
        pipe.entity_communities(edges, min_modularity=1.0)


def test_edge_diff_statuses(spark):
    """Hand case: edge A only old → removed; B only new → added; C
    weight 2→5 → changed; D equal → stable; weights coalesce to 0 on
    the absent side."""
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    old = spark.createDataFrame(
        [("A", "p", "X", 1), ("C", "p", "X", 2), ("D", "p", "X", 3)],
        "subj_entity_id string, pred string, obj_entity_id string, weight long",
    )
    new = spark.createDataFrame(
        [("B", "p", "X", 4), ("C", "p", "X", 5), ("D", "p", "X", 3)],
        "subj_entity_id string, pred string, obj_entity_id string, weight long",
    )
    got = {
        r["subj_entity_id"]: (r["w_old"], r["w_new"], r["status"])
        for r in KGPipeline.edge_diff(old, new).collect()
    }
    assert got == {
        "A": (1, 0, "removed"),
        "B": (0, 4, "added"),
        "C": (2, 5, "changed"),
        "D": (3, 3, "stable"),
    }

