"""Retrieval evaluation over an α grid — the reference's ``src/evaluation.py``
re-expressed (grid at evaluation.py:60: α ∈ {0.0, 0.75, 1.0}).

The reference judges each retrieval with a quantized LLM; a sandboxed
engine can do better: the fixture carries exact ground truth, so the
judge is precision/recall of the emitted triples per α (A6 result
accumulation → a metrics DataFrame).

This is also the knob-sweep harness a production deployment uses to pick
α / link_threshold: one broadcast index build, one extraction pass per
setting (extraction is α-independent but the fused operator links inline,
so each α is a separate map-only job — still zero shuffles each).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cdrc_semantic_search_spark.config import (
    EncoderSettings,
    PipelineSettings,
    RetrievalSettings,
    Settings,
)
from cdrc_semantic_search_spark.oracle import precision_recall
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

# The reference sweeps α ∈ {0.0, 0.75, 1.0} (/root/reference/src/evaluation.py:60)
# while config bounds α ∈ (0, 1] (utils.py:31) — its α=0 point is exactly the
# "sparse" query mode (utils.py:30), and α=1 is "default" (dense-only). The
# engine therefore sweeps (query_mode, α) PAIRS to cover the reference grid
# without violating the α bound.
MODE_ALPHA_GRID: tuple[tuple[str, float], ...] = (
    ("sparse", 0.75),  # effective α = 0.0 — the reference's α=0 grid point
    ("hybrid", 0.75),
    ("default", 0.75),  # effective α = 1.0 — the reference's α=1 grid point
)

_EFFECTIVE_ALPHA = {"sparse": 0.0, "default": 1.0}


def evaluate_mode_alpha_grid(
    spark: SparkSession,
    transcripts: DataFrame,
    entities_pdf: pd.DataFrame,
    truth: pd.DataFrame,
    grid: tuple[tuple[str, float], ...] = MODE_ALPHA_GRID,
) -> pd.DataFrame:
    """→ metrics frame (query_mode, alpha, effective_alpha, precision,
    recall, n_triples) — one row per (mode, α) pair, reference grid order."""
    rows = []
    for mode, alpha in grid:
        settings = Settings(
            encoder=EncoderSettings(),
            retrieval=RetrievalSettings(alpha=alpha, query_mode=mode),
            pipeline=PipelineSettings(),
        )
        pipe = KGPipeline(spark, entities_pdf, settings)
        got = pipe.triples(transcripts).toPandas()
        p, r = precision_recall(got, truth)
        rows.append(
            {
                "query_mode": mode,
                "alpha": alpha,
                "effective_alpha": _EFFECTIVE_ALPHA.get(mode, alpha),
                "precision": round(p, 4),
                "recall": round(r, 4),
                "n_triples": len(got),
            }
        )
    return pd.DataFrame(rows)
