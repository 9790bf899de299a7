"""Bucketed-fanout PageRank bench: the measured win for bucketing in an
actual repeated-join pipeline (not just a plan demonstration).

Three storage strategies for the SAME static fanout (edge list annotated
with source strength), driving the SAME 5-iteration PageRank loop over a
hub-skewed 2^21-edge graph:

* **persisted** — fanout cached in executor memory (what pagerank_fixed
  does internally). The sandbox-scale winner, but impossible at 100 TB:
  the edge list does not fit executor storage.
* **plain parquet** — fanout read back from an unbucketed parquet dir,
  no persist. What 100 TB forces WITHOUT bucketing: every iteration
  re-exchanges the |E|-sized edge side into the join.
* **bucketed table** — fanout written ONCE bucketed+sorted by src
  (32 buckets), no persist. Every iteration's fanout⋈ranks join reads
  the buckets in place; only the |V|-sized rank vector shuffles.

The per-variant metric deltas (wall sec + total shuffle-write bytes from
the driver's status store) quantify the conversion of a recurring |E|
shuffle into a one-time write-side sort. autoBroadcastJoinThreshold=-1
keeps the rank vector out of broadcast, as it would be at real scale
(|V| ≫ threshold).

Results: JSON to stdout + scripts/.pr_bucket_bench.json + a BENCH.md
section (replace-by-heading; scripts/scaling_bench.py re-appends it).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from _harness import publish, session, stages, timed

N_EDGES = 1 << 21
N_VERTICES = 400_000
N_ITER = 5
N_BUCKETS = 32
MARKER = "## Bucketed fanout vs re-shuffle"


def build_zipf_edges(spark):
    from pyspark.sql import functions as F

    u1 = (F.abs(F.xxhash64(F.col("id"), F.lit(1))) % 1_000_000) / 1_000_000.0
    u2 = (F.abs(F.xxhash64(F.col("id"), F.lit(2))) % 1_000_000) / 1_000_000.0
    return (
        spark.range(N_EDGES, numPartitions=32)
        .select(
            (u1 * N_VERTICES).cast("long").alias("src"),
            (F.pow(u2, 4.0) * N_VERTICES).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def timed_pagerank(spark, seen: set, fanout=None, edges=None, label="") -> dict:
    from cdrc_semantic_search_spark.operators.graph import pagerank_fixed

    stages(spark, seen)
    n, sec = timed(
        lambda: pagerank_fixed(edges=edges, fanout=fanout, n_iter=N_ITER).count()
    )
    shuffle_mb = round(sum(s["shuffle_write_bytes"] for s in stages(spark, seen)) / 1e6, 1)
    print(f"  {label}: {sec}s, shuffle-write {shuffle_mb} MB, {n} ranks",
          flush=True)
    return {"variant": label, "sec": sec, "shuffle_write_mb": shuffle_mb,
            "vertices": n}


def main() -> None:
    from cdrc_semantic_search_spark.operators.graph import (
        build_pagerank_fanout,
        pagerank_fixed,
    )

    work = tempfile.mkdtemp(prefix="pr_bucket_bench_")
    spark = session(
        "pr-bucket-bench",
        work=work,
        shuffle_partitions=N_BUCKETS,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )

    fanout_plan = build_pagerank_fanout(build_zipf_edges(spark))
    plain_path = os.path.join(work, "fanout_plain")
    fanout_plan.write.mode("overwrite").parquet(plain_path)
    spark.sql("DROP TABLE IF EXISTS pr_bench_fanout_bkt")
    (
        fanout_plan.write.bucketBy(N_BUCKETS, "src").sortBy("src")
        .option("path", os.path.join(work, "fanout_bkt"))
        .mode("overwrite").format("parquet")
        .saveAsTable("pr_bench_fanout_bkt")
    )
    n_edges = spark.read.parquet(plain_path).count()
    print(f"fanout: {n_edges} edges, {N_VERTICES} vertex domain", flush=True)

    # warmup (codegen + python worker pool), untimed
    pagerank_fixed(fanout=spark.read.parquet(plain_path), n_iter=1).count()

    seen: set = set()
    results = [
        timed_pagerank(
            spark, seen, edges=spark.read.parquet(plain_path).select("src", "dst"),
            label="persisted (memory cache)",
        ),
        timed_pagerank(
            spark, seen, fanout=spark.read.parquet(plain_path),
            label="plain parquet, no persist",
        ),
        timed_pagerank(
            spark, seen, fanout=spark.table("pr_bench_fanout_bkt"),
            label=f"bucketed table ({N_BUCKETS} buckets), no persist",
        ),
    ]
    out = {"n_edges": n_edges, "n_iter": N_ITER, "variants": results}
    publish("pr_bucket_bench", out, MARKER, "\n" + render_section(out))

    spark.sql("DROP TABLE IF EXISTS pr_bench_fanout_bkt")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


def render_section(out: dict) -> str:
    lines = [
        f"{MARKER} (5-iteration PageRank, {out['n_edges']:,} edges)\n",
        "| fanout storage | shuffle-write MB | wall sec |",
        "|---|---|---|",
    ]
    for v in out["variants"]:
        lines.append(
            f"| {v['variant']} | {v['shuffle_write_mb']} | {v['sec']} |"
        )
    lines.append(
        "\nShuffle-write bytes are the deterministic metric (identical "
        "across runs); wall seconds on this host swing up to 3x run-to-run "
        "(local shuffle rides the page cache, so wall time measures "
        "scheduler noise more than data movement). The structural win: the "
        "bucketed table removes the per-iteration |E|-side exchange — only "
        "the rank vector and the dst-keyed contribution aggregation shuffle "
        "(plan-pinned in test_bucketing) — the 100-TB strategy, where "
        "shuffle is network+disk and the memory-cache variant is impossible "
        "outright. Methodology: same loop, same session, "
        "autoBroadcastJoinThreshold=-1, metrics from the driver's status "
        "store.\n"
    )
    return "\n".join(lines)


if __name__ == "__main__":
    main()
