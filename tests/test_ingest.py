"""Evaluation sweeps over the ingested fixture: precision/recall of the
emitted triples per (query_mode, α) point against the fixture's ground
truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdrc_semantic_search_spark.plans.evaluation import evaluate_mode_alpha_grid


def test_alpha_grid_evaluation(spark, fixture, spark_fixture):
    """A pure-α sweep in hybrid mode holds the P/R gate at each point."""
    tdf, _ = spark_fixture
    small = tdf.filter(F.col("conv_id") < "conv_000020")
    truth = fixture.truth_triples[
        fixture.truth_triples["conv_id"] < "conv_000020"
    ]
    out = evaluate_mode_alpha_grid(
        spark, small, fixture.entities, truth, grid=(("hybrid", 0.75), ("hybrid", 1.0))
    )
    assert set(out["alpha"]) == {0.75, 1.0}
    assert (out["precision"] >= 0.9).all()
    assert (out["recall"] >= 0.9).all()


def test_mode_alpha_grid_covers_reference_sweep(spark, fixture, spark_fixture):
    """The reference sweeps α ∈ {0.0, 0.75, 1.0} (evaluation.py:60); the
    engine covers those exact points as (mode, α) pairs — sparse ≡ α=0,
    default ≡ α=1 (utils.py:30-31)."""
    tdf, _ = spark_fixture
    small = tdf.filter(F.col("conv_id") < "conv_000020")
    truth = fixture.truth_triples[fixture.truth_triples["conv_id"] < "conv_000020"]
    out = evaluate_mode_alpha_grid(spark, small, fixture.entities, truth)
    assert list(out.columns) == [
        "query_mode", "alpha", "effective_alpha", "precision", "recall", "n_triples",
    ]
    assert list(out["query_mode"]) == ["sparse", "hybrid", "default"]
    assert list(out["effective_alpha"]) == [0.0, 0.75, 1.0]
    # hybrid@0.75 is the tuned operating point — it must not trail either pure mode
    hyb = out.set_index("query_mode")
    assert hyb.loc["hybrid", "recall"] >= hyb.loc["sparse", "recall"] - 1e-9
    assert (out["n_triples"] > 0).all()
