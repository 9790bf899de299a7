"""Incremental canonicalization bench: full recluster vs prior labels.

The compaction question at 10^12 mentions: when a new generation adds M
surfaces to an S-surface history, what does re-canonicalizing cost?

* **full recluster**: LSH-pair ALL S+M surfaces and union every pair ≥ τ
  — pair work grows with the accumulated history every compaction.
* **prior labels** (the path ``compacted_surface_clusters`` runs):
  ``canonicalize_embedded`` with each old surface's converged label as
  its ``prior`` — every old cluster is one forest vertex, only pairs
  touching a NEW surface are scored, and the forest goes straight to the
  one-task finish, so the superlinear work (pair scoring, CC) tracks the
  DELTA; the encode-and-tag pass, the bucket exchange and the label
  join-back stay linear in S.

Both paths are run over the same synthetic surface corpus (stem+variant
strings through the package's hashed-n-gram encoder, so same-stem
variants genuinely cluster) across three growing generations, asserting
LABEL EQUALITY every generation (prior labels ≡ rebuild — the same
invariant test_streaming pins on the pipeline) and reporting wall
seconds plus the delta forest's edge count (what reaches the finish).

Results: JSON to stdout + scripts/.inc_canon_bench.json + a BENCH.md
section (replace-by-heading; scripts/scaling_bench.py re-appends it).
"""

from __future__ import annotations

import os
import tempfile

from _harness import publish, session, timed

S_BASE = 40_000
M_DELTA = 2_000
DIM = 64
THRESHOLD = 0.85
N_PLANES = 48
N_BANDS = 4
MARKER = "## Incremental canonicalization at compaction"


def surfaces(spark, lo: int, hi: int):
    """Deterministic surface strings, all distinct: id i belongs to stem
    i // 7, variant i % 7. The stem core is an md5 hex string, so
    same-stem variants share almost every character n-gram (cosine well
    above the threshold) while different stems share only the template
    words (well below) — surfaces cluster per stem, and each new
    generation both opens fresh stems and finishes the last partially
    covered one (its variants must join the EXISTING cluster across the
    generation boundary)."""
    from pyspark.sql import functions as F

    return spark.range(lo, hi, numPartitions=16).select(
        F.format_string(
            "surface %s form %d",
            F.md5((F.col("id") / 7).cast("long").cast("string")),
            F.col("id") % 7,
        ).alias("surface")
    )


def embed(batch):
    from cdrc_semantic_search_spark.encoder import encode_texts

    return encode_texts(batch.column("surface").to_pylist(), dim=DIM, seed=42, ngram=3)


ARGS = dict(dim=DIM, threshold=THRESHOLD, n_planes=N_PLANES, n_bands=N_BANDS)


def full_recluster(all_surf):
    from cdrc_semantic_search_spark.operators.canonicalize import (
        canonicalize_embedded,
    )

    return canonicalize_embedded(all_surf, "surface", embed, **ARGS)


def with_prior(labels, all_surf):
    """Every surface with its previous generation's label (NULL if new)."""
    from pyspark.sql import functions as F

    return all_surf.join(
        labels.select(F.col("id").alias("surface"), F.col("canonical_id").alias("prior")),
        "surface",
        "left",
    )


def prior_labels(labels, all_surf):
    from cdrc_semantic_search_spark.operators.canonicalize import (
        canonicalize_embedded,
    )

    return canonicalize_embedded(
        with_prior(labels, all_surf), "surface", embed, prior_col="prior", **ARGS
    )


def forest_edges(labels, all_surf) -> int:
    from cdrc_semantic_search_spark.operators.canonicalize import similarity_forest

    return similarity_forest(
        with_prior(labels, all_surf), "surface", embed, prior_col="prior", **ARGS
    ).count()


def render_section(results: list[dict]) -> str:
    rows = "\n".join(
        f"| gen {r['gen']} | {r['n_surfaces']:,} | {r['n_new']:,} | "
        f"{r['full_sec']} | {r['inc_sec']} | {r['inc_forest_edges']:,} | "
        f"{'yes' if r['equal'] else 'NO'} |"
        for r in results
    )
    return f"""
{MARKER} ({S_BASE:,} base surfaces, +{M_DELTA:,}/generation)

Full recluster (LSH-pair everything + one-task finish) vs prior labels
(`canonicalize_embedded` with each old surface's label from the previous
generation as its prior: old clusters enter the forest as one vertex,
only pairs touching a new surface are scored), same corpus, labels
asserted EQUAL every generation:

| generation | surfaces | new | full recluster sec | prior labels sec | delta forest edges | labels equal |
|---|---|---|---|---|---|---|
{rows}

With prior labels the superlinear work (pair scoring, the one-task
finish) tracks the delta; the full path re-scores every bucket of the
history each compaction. With the bucket-forest kernel and 48/4 planes,
pair scoring is a small share of either path, so both walls are mostly
the work that stays linear in history: the encode-and-tag pass and the
(band, bucket) exchange of every tagged row, plus, for prior labels, the
join of the previous generation's labels. Generation 1 also pays the
first start of the Python workers. Persisting (surface, band, bucket,
vec) beside the base would drop the re-encode.
Reproduce: `python scripts/inc_canon_bench.py`.
"""


def main() -> None:
    spark = session("inc-canon-bench")

    work = tempfile.mkdtemp(prefix="inc_canon_")
    results = []
    labels = None
    for gen in range(1, 4):
        hi = S_BASE + gen * M_DELTA
        # rebuild frames from range/parquet each generation instead of
        # chaining localCheckpoints: Spark's localCheckpoint PRESERVES
        # the child plan's sizeInBytes into the LogicalRDD, so a
        # checkpoint->join->checkpoint chain compounds Catalyst's BigInt
        # size estimate exponentially across generations until PLANNING
        # (Toom-Cook bignum multiplication inside the stats visitor)
        # dominates wall time. Production is immune — each generation's
        # labels persist to the catalog and a parquet scan resets stats
        # to file size — so the bench mirrors that storage boundary.
        all_surf = surfaces(spark, 0, hi).localCheckpoint()

        full, full_sec = timed(lambda: full_recluster(all_surf).localCheckpoint())

        if labels is None:
            # generation 0 base labels: one full cluster of the base set
            labels = full_recluster(surfaces(spark, 0, hi - M_DELTA)).localCheckpoint()

        patched, inc_sec = timed(
            lambda: prior_labels(labels, all_surf).localCheckpoint()
        )
        got = {(r.id, r.canonical_id) for r in patched.collect()}
        want = {(r.id, r.canonical_id) for r in full.collect()}
        res = {
            "gen": gen,
            "n_surfaces": hi,
            "n_new": M_DELTA,
            "full_sec": full_sec,
            "inc_sec": inc_sec,
            "inc_forest_edges": forest_edges(labels, all_surf),
            "equal": got == want,
        }
        print(f"  {res}", flush=True)
        results.append(res)
        # the production storage boundary: labels round-trip parquet
        lp = os.path.join(work, f"labels_gen{gen}")
        patched.select("id", "canonical_id").write.mode("overwrite").parquet(lp)
        labels = spark.read.parquet(lp)

    assert all(r["equal"] for r in results), "prior labels != full rebuild"
    publish("inc_canon_bench", results, MARKER, render_section(results))
    spark.stop()


if __name__ == "__main__":
    main()
