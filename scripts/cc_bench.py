"""Connected-components bench on graphs big enough to see the algorithm.

At driver-headline scale (hundreds of edges) cc_components is pure
driver latency — one Spark job per round is the floor, and contraction's
round advantage is invisible. This bench builds ≥10⁶-edge synthetic
graphs distributed (no driver-side generation) and times the production
operator (component-level min propagation + pointer jumping,
operators/canonicalize.py) against classic 1-hop label propagation:

* **path-1024**: 1,024 disjoint 1,025-vertex paths (2^20 edges) — the
  diameter stress case; 1-hop propagation needs O(diameter) rounds,
  contraction O(log diameter).
* **zipf-hub**: 2^20 edges whose destinations are Zipf-skewed toward
  low ids (hub vertices ~ hot entities in a mention graph) — the skew
  stress case; most mass is one giant component.

Results: JSON to stdout + scripts/.cc_bench.json + a BENCH.md section
(replace-by-heading; scripts/scaling_bench.py re-appends it whenever it
rewrites BENCH.md).
"""

from __future__ import annotations

from _harness import publish, session, timed

MARKER = "## Connected components at 10⁶-edge scale"


def label_propagation_1hop(edges, max_iter: int = 2000):
    """Classic 1-hop min-label propagation (the textbook baseline):
    every round, each vertex takes the min label among itself and its
    neighbors. O(diameter) rounds — kept here (not in the library) as
    the comparison strawman. Returns (component count, rounds)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    import uuid

    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    ).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        lb = labels.select(F.col("id").alias("b"), F.col("component").alias("cb"))
        neigh = (
            sym.join(lb, "b")
            .groupBy("a")
            .agg(F.min("cb").alias("m"))
            .withColumnRenamed("a", "id")
        )
        obs = Observation(f"__lp_round_{uuid.uuid4().hex}")
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least("component", F.coalesce("m", "component")).alias("component"),
                (
                    F.least("component", F.coalesce("m", "component"))
                    != F.col("component")
                ).cast("int").alias("__chg"),
            )
            .observe(obs, F.sum("__chg").alias("chg"))
            .localCheckpoint()
        )
        labels = new_labels.drop("__chg")
        if (obs.get["chg"] or 0) == 0:
            break
    return labels.select("component").distinct().count(), rounds


def build_path_graph(spark, n_paths: int, path_len: int):
    """n_paths disjoint paths of path_len edges each, ids interleaved so
    contiguous id ranges do NOT align with components."""
    from pyspark.sql import functions as F

    n_edges = n_paths * path_len
    return (
        spark.range(n_edges, numPartitions=32)
        .select(
            (F.col("id") % n_paths + (F.col("id") / n_paths).cast("long") * n_paths).alias("src"),
            (F.col("id") % n_paths + ((F.col("id") / n_paths).cast("long") + 1) * n_paths).alias("dst"),
        )
    )


def build_zipf_graph(spark, n_edges: int, n_vertices: int):
    """Hub-skewed random graph: deterministic per-edge hashes; dst mass
    concentrates on low ids (pow(u, 4) Zipf-ish)."""
    from pyspark.sql import functions as F

    u1 = (F.abs(F.xxhash64(F.col("id"), F.lit(1))) % 1_000_000) / 1_000_000.0
    u2 = (F.abs(F.xxhash64(F.col("id"), F.lit(2))) % 1_000_000) / 1_000_000.0
    return (
        spark.range(n_edges, numPartitions=32)
        .select(
            (u1 * n_vertices).cast("long").alias("src"),
            (F.pow(u2, 4.0) * n_vertices).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def run_case(spark, name, edges, run_baseline: bool):
    from cdrc_semantic_search_spark.operators.canonicalize import connected_components

    edges = edges.localCheckpoint()  # materialize input, untimed
    n_edges = edges.count()

    # warmup (JVM/codegen) on a slice, untimed
    connected_components(edges.limit(10_000), src="src", dst="dst")

    stats: dict = {}
    n_comp, contraction_sec = timed(
        lambda: connected_components(edges, src="src", dst="dst", max_iter=60, stats=stats)
        .select("component").distinct().count()
    )

    out = {
        "fixture": name,
        "edges": n_edges,
        "components": n_comp,
        "contraction_rounds": stats["rounds"],
        "contraction_sec": contraction_sec,
    }
    if run_baseline:
        (lp_comp, out["lp1hop_rounds"]), out["lp1hop_sec"] = timed(
            lambda: label_propagation_1hop(edges)
        )
        assert lp_comp == n_comp, f"algorithms disagree: {lp_comp} vs {n_comp}"
    return out


def render_section(results: list[dict]) -> str:
    rows = []
    for r in results:
        lp = (
            f"{r['lp1hop_rounds']} / {r['lp1hop_sec']} s"
            if "lp1hop_rounds" in r
            else "— (O(diameter) rounds; skipped)"
        )
        rows.append(
            f"| {r['fixture']} | {r['edges']:,} | {r['components']:,} "
            f"| {r['contraction_rounds']} / {r['contraction_sec']} s | {lp} |"
        )
    body = "\n".join(rows)
    return f"""
{MARKER} (scripts/cc_bench.py)

Driver-headline CC fixtures are hundreds of edges — pure job-submission
latency, where no algorithm is distinguishable. These graphs are big
enough to show the CONTRACTION formulation's round bound (component-min
propagation + pointer jumping, O(log diameter)) vs classic 1-hop label
propagation (O(diameter)); both run identical per-round plan shapes
(localCheckpoint + Observation convergence probe riding the checkpoint).

| fixture | edges | components | contraction rounds / wall | 1-hop LP rounds / wall |
|---|---|---|---|---|
{body}

Equal component counts assert both algorithms agree; rounds include the
final zero-change confirmation round. On path-1024 (diameter 1024) 1-hop
would need ~1,024 rounds (~an hour at the measured ~3.8 s/round) — it is
run only on the low-diameter zipf graph, where a small round gap is all
the diameter allows; the path fixture is the O(log d) vs O(d) argument.
"""


def main() -> None:
    spark = session("cc-bench")

    results = [
        run_case(
            spark, "path-1024 (diameter 1024)",
            build_path_graph(spark, n_paths=1024, path_len=1024),
            run_baseline=False,  # 1-hop needs ~diameter rounds: hours
        ),
        run_case(
            spark, "zipf-hub (giant component)",
            build_zipf_graph(spark, n_edges=1 << 20, n_vertices=200_000),
            run_baseline=True,
        ),
    ]
    publish("cc_bench", results, MARKER, render_section(results))
    spark.stop()


if __name__ == "__main__":
    main()
