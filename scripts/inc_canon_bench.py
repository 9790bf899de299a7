"""Incremental canonicalization bench: full recluster vs delta patch.

The compaction question at 10^12 mentions: when a new generation adds M
surfaces to an S-surface history, what does re-canonicalizing cost?

* **full recluster** (the pre-r4 path): LSH-pair ALL S+M surfaces and
  run connected components over every pair — cost grows with the
  accumulated history every compaction, forever.
* **incremental patch** (r4): generate only pairs touching a NEW
  surface (cosine_pairs_lsh_delta), fold them into the previous
  generation's converged labels (incremental_components) — the
  superlinear work (candidate generation, cosine re-check, CC) tracks
  the DELTA; only a map-only re-tag and one label-patch join stay
  linear in S.

Both paths are run over the same synthetic surface corpus (stem+variant
strings through the package's hashed-n-gram encoder, so same-stem
variants genuinely cluster) across three growing generations, asserting
LABEL EQUALITY every generation (incremental ≡ rebuild — the same
invariant test_streaming pins on the pipeline) and reporting wall
seconds plus candidate-pair counts (the deterministic cost driver).

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


def with_vec(df):
    from pyspark.sql import functions as F

    from cdrc_semantic_search_spark.encoder import make_encoder_udf

    encode = make_encoder_udf(dim=DIM, seed=42, ngram=3)
    return df.withColumn("vec", encode(F.col("surface")))


def full_recluster(all_surf):
    from cdrc_semantic_search_spark.operators.canonicalize import (
        canonicalize_embedded,
    )

    return canonicalize_embedded(
        with_vec(all_surf), "surface", "vec", dim=DIM, threshold=THRESHOLD,
        n_planes=N_PLANES, n_bands=N_BANDS,
    )


def incremental_patch(labels, all_surf, new_surf):
    from pyspark.sql import functions as F

    from cdrc_semantic_search_spark.operators.canonicalize import (
        incremental_components,
    )
    from cdrc_semantic_search_spark.operators.similarity import (
        cosine_pairs_lsh_delta,
    )

    flagged = all_surf.join(
        new_surf.select("surface", F.lit(True).alias("__is_new")),
        "surface",
        "left",
    ).select(
        "surface", F.coalesce("__is_new", F.lit(False)).alias("__is_new")
    )
    caches: list = []
    pairs = cosine_pairs_lsh_delta(
        with_vec(flagged), "surface", "vec", dim=DIM,
        threshold=THRESHOLD, new_col="__is_new",
        n_planes=N_PLANES, n_bands=N_BANDS, cache_handle=caches,
    )
    n_pairs = pairs.count()
    out = incremental_components(
        labels.select(F.col("id"), F.col("component")), pairs
    ).localCheckpoint()
    for c in caches:
        c.unpersist()
    return out, n_pairs


def render_section(results: list[dict]) -> str:
    rows = "\n".join(
        f"| gen {r['gen']} | {r['n_surfaces']:,} | {r['n_new']:,} | "
        f"{r['full_sec']} | {r['inc_sec']} | {r['inc_pairs']:,} | "
        f"{'yes' if r['equal'] else 'NO'} |"
        for r in results
    )
    return f"""
{MARKER} ({S_BASE:,} base surfaces, +{M_DELTA:,}/generation)

Full recluster (LSH-pair everything + global CC, the pre-r4 compaction)
vs the delta patch (pairs touching a new surface only +
incremental_components over the previous generation's labels), same
corpus, labels asserted EQUAL every generation:

| generation | surfaces | new | full recluster sec | incremental sec | delta pairs re-checked | labels equal |
|---|---|---|---|---|---|---|
{rows}

The full path re-pays the whole history every compaction and grows with
it; the patch's superlinear work (candidate generation, cosine
re-check, CC) tracks the delta — at 10^12 mentions that is the
difference between a compaction that re-clusters years of surfaces and
one that folds a day's. What stays linear in history: the map-only
re-encode/re-tag (no shuffle; persist (surface, band, bucket) beside
the base to drop it too) and one AQE-broadcast label-patch join.
Reproduce: `python scripts/inc_canon_bench.py`.
"""


def main() -> None:
    from pyspark.sql import functions as F

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
        base = surfaces(spark, 0, hi - M_DELTA).localCheckpoint()
        new = surfaces(spark, hi - M_DELTA, hi).localCheckpoint()
        all_surf = surfaces(spark, 0, hi).localCheckpoint()

        full, full_sec = timed(lambda: full_recluster(all_surf).localCheckpoint())

        if labels is None:
            # generation 0 base labels: one full cluster of the base set
            labels = full_recluster(base).select(
                F.col("id"), F.col("canonical_id").alias("component")
            ).localCheckpoint()

        (patched, n_pairs), inc_sec = timed(
            lambda: incremental_patch(labels, all_surf, new)
        )

        got = {
            (r.surface, r.canonical_surface)
            for r in all_surf.join(
                patched, all_surf["surface"] == patched["id"], "left"
            )
            .select(
                "surface",
                F.coalesce("component", "surface").alias("canonical_surface"),
            )
            .collect()
        }
        want = {(r.id, r.canonical_id) for r in full.collect()}
        res = {
            "gen": gen,
            "n_surfaces": all_surf.count(),
            "n_new": new.count(),
            "full_sec": full_sec,
            "inc_sec": inc_sec,
            "inc_pairs": n_pairs,
            "equal": got == want,
        }
        print(f"  {res}", flush=True)
        results.append(res)
        # the production storage boundary: labels round-trip parquet
        lp = os.path.join(work, f"labels_gen{gen}")
        patched.write.mode("overwrite").parquet(lp)
        labels = spark.read.parquet(lp)

    assert all(r["equal"] for r in results), "incremental != full rebuild"
    publish("inc_canon_bench", results, MARKER, render_section(results))
    spark.stop()


if __name__ == "__main__":
    main()
