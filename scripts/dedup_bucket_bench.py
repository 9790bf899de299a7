"""Bucketed-base dedup re-check bench: the measured shuffle win for
storing the (id, vec) embedding base bucketed by id.

Embedding near-dup dedup is candidate generation (LSH buckets, ids only)
followed by the EXACT-COSINE RE-CHECK: candidate id pairs re-join the
(id, vec) base twice (once per side) to score true cosine. At 100 TB the
base is the billion-row side; how it is stored decides whether the
re-check exchanges it:

* **plain parquet** — the re-joins sort-merge: the full vector payload
  exchanges by id hash (Spark's ReusedExchange collapses the two
  structurally-identical base exchanges into one — still a full-corpus
  shuffle).
* **bucketed table** (bucketBy id, sorted) — both re-joins read the base
  buckets in place; only the small candidate-pair side exchanges (and
  carries one vector through the second hop). Zero base-side Exchange —
  the same discipline the bucketed-fanout PageRank entry measures for
  iterative joins, applied to the dedup pipeline's one expensive join.

autoBroadcastJoinThreshold=-1 models real scale, where the base is far
beyond broadcast. Metrics (shuffle-write bytes/records from the driver's
status store) are deterministic; wall seconds on this host ride the page
cache.

Results: JSON to stdout + scripts/.dedup_bucket_bench.json + a BENCH.md
section (replace-by-heading; scripts/scaling_bench.py re-appends it when
it rewrites BENCH.md).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from _harness import publish, session, stages, timed

N_VECS = 500_000
DIM = 64
N_PAIRS = 200_000
N_BUCKETS = 32
MARKER = "## Bucketed embedding base for the dedup re-check join"


def build_base(spark):
    """Deterministic (id, vec) corpus, generated distributed."""
    from pyspark.sql import functions as F

    expr = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (
            (F.pmod(F.xxhash64(F.col("id"), d), F.lit(2000)) - 1000) / 1000.0
        ).cast("float"),
    )
    return spark.range(N_VECS, numPartitions=32).select(
        F.col("id").alias("doc_id"), expr.alias("vec")
    )


def build_pairs(spark):
    """Candidate id pairs shaped like LSH output: near-ids pair up."""
    from pyspark.sql import functions as F

    return (
        spark.range(N_PAIRS, numPartitions=8)
        .select(
            (F.pmod(F.xxhash64("id"), F.lit(N_VECS - 1))).alias("id_a"),
        )
        .select(
            F.abs(F.col("id_a")).alias("id_a"),
            (F.abs(F.col("id_a")) + 1).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def run_case(spark, label: str, base_df, cand_df, seen: set) -> dict:
    from cdrc_semantic_search_spark.operators.similarity import exact_recheck

    from pyspark.sql import functions as F

    scored = exact_recheck(base_df, cand_df, "doc_id", "vec")
    # aggregate over score, not count(): a bare count would let Catalyst
    # prune the vector columns OUT of the exchanges and the bench would
    # measure an id-only shuffle no real dedup run gets
    agg = scored.agg(
        F.sum("score").alias("s"), F.count(F.lit(1)).alias("n")
    )
    stages(spark, seen)
    rows, sec = timed(agg.collect)
    run = stages(spark, seen)
    res = {
        "variant": label,
        "sec": sec,
        "shuffle_write_mb": round(sum(s["shuffle_write_bytes"] for s in run) / 1e6, 1),
        "shuffle_write_records": sum(s["shuffle_write_records"] for s in run),
        "pairs_scored": rows[0]["n"],
    }
    print(f"  {label}: {res}", flush=True)
    return res


def render_section(results: list[dict]) -> str:
    r = {x["variant"]: x for x in results}
    p, b = r["plain parquet"], r["bucketed table"]
    saved = round(100 * (1 - b["shuffle_write_mb"] / max(p["shuffle_write_mb"], 0.1)))
    return f"""
{MARKER} ({N_VECS:,} vectors × {DIM} dims, {p["pairs_scored"]:,} candidate pairs)

LSH candidate pairs (ids only) re-join the (id, vec) base twice for the
exact-cosine re-check — the one expensive join in embedding dedup. Same
join, same pairs, base stored two ways, autoBroadcastJoinThreshold=-1
(at real scale the base cannot broadcast). Plain storage exchanges the
full corpus once (ReusedExchange collapses the two identical base
exchanges); bucketed storage exchanges it never:

| base storage | shuffle-write MB | shuffle-write records | wall sec |
|---|---|---|---|
| plain parquet | {p["shuffle_write_mb"]} | {p["shuffle_write_records"]:,} | {p["sec"]} |
| bucketed table ({N_BUCKETS} buckets) | **{b["shuffle_write_mb"]} (−{saved}%)** | {b["shuffle_write_records"]:,} | {b["sec"]} |

The bucketed base never exchanges — both re-joins read buckets in place
(plan-pinned in test_bucketing::test_recheck_bucketed_base_no_exchange);
only the candidate pairs shuffle, and they carry one vector through the
second hop. At 100 TB that converts a full-corpus vector exchange per
dedup run into a one-time write-side sort — the same discipline as the
bucketed PageRank fanout above. Shuffle bytes are the deterministic
metric; local wall seconds ride the page cache.
Reproduce: `python scripts/dedup_bucket_bench.py`.
"""


def main() -> None:
    work = tempfile.mkdtemp(prefix="dedup_bucket_bench_")
    spark = session(
        "dedup-bucket-bench",
        work=work,
        shuffle_partitions=N_BUCKETS,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )

    plain_path = os.path.join(work, "base_plain")
    build_base(spark).write.mode("overwrite").parquet(plain_path)
    spark.sql("DROP TABLE IF EXISTS dedup_bench_base_bkt")
    (
        build_base(spark).write.bucketBy(N_BUCKETS, "doc_id").sortBy("doc_id")
        .option("path", os.path.join(work, "base_bkt"))
        .mode("overwrite").format("parquet")
        .saveAsTable("dedup_bench_base_bkt")
    )
    pairs_path = os.path.join(work, "pairs")
    build_pairs(spark).write.mode("overwrite").parquet(pairs_path)
    cand = spark.read.parquet(pairs_path)

    seen: set = set()
    # untimed warmup on a slice
    run_case(spark, "warmup", spark.read.parquet(plain_path).limit(1000), cand.limit(100), seen)

    results = [
        run_case(spark, "plain parquet", spark.read.parquet(plain_path), cand, seen),
        run_case(spark, "bucketed table", spark.table("dedup_bench_base_bkt"), cand, seen),
    ]
    publish("dedup_bucket_bench", results, MARKER, render_section(results))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
