"""Dump formatted physical plans of the engine's key operators → docs/PLANS.md.

Reviewer aid: the plan-shape claims (pushdown, broadcast, map-only fused
stage, partial aggregation) as Catalyst actually prints them.  The same
properties are ASSERTED in tests/test_plans.py; this file is for reading.
"""

from __future__ import annotations

import contextlib
import io
import os

from _harness import REPO_ROOT, session

SF = "/root/testdata/sf0.001"


EPILOGUE = '## Ledgered graph maintenance (log-structured deltas, merge-on-read)\n\nNo `.explain` needed to see the shape — it\'s in the commit protocol:\n\n```\nbucket b:  triples ──write──▶ triples/b      ──marker──▶ committed\n           read-back(triples/b) → kg_edges() ──write──▶ edge_deltas/b    ──marker──▶\n           mentions(batch) ┬→ mention_counts ──write──▶ node_deltas/b    ──marker──▶\n            (persisted)    └→ surface_forms  ──write──▶ surface_deltas/b ──marker──▶\nread:      edge_deltas/*    → groupBy(edge key).agg(sum, min, max)      (one shuffle)\n           node_deltas/*    → groupBy(entity).sum ⋈ broadcast(dim)      (one shuffle)\n           surface_deltas/* → groupBy(surface).min(entity) → cluster    (global CC at\n                              compaction — components span buckets, so only the\n                              clustering INPUT is incremental)\n```\n\n* Nothing is read-modify-written: every bucket/micro-batch is an\n  idempotent partition overwrite, so crash-resume never double-counts\n  (merge(f(A), f(B)) ≡ f(A ∪ B) — verified by kg_edges_ledgered hashing\n  equal to the full-rebuild oracle, and by the streaming twin matching\n  the one-shot batch graph regardless of micro-batch boundaries).\n* Deltas are SLIM: edges carry (key, weight, span), nodes carry\n  mentioned-entity counts only — the full dim joins back once at\n  compaction, not once per partition.\n* At 10^12 turns this is the Iceberg merge-on-read pattern: per-partition\n  commits land in the ledger with lineage + counts.  `compact_graph` is\n  GENERATIONAL: it folds the live delta generation into base tables and\n  RETIRES those partitions (marker moves to a retired ledger — resume\n  logic and reads exclude them), opening the next generation; reads then\n  merge base ⊕ new deltas (`merge_edge_deltas` again — the same algebra\n  composes across generations).  The compaction commits like every\n  whole-table replace in the catalog: stage all bases, then one\n  roll-forward record names the swaps, the retirements and the\n  generation files, so a crash at any point either changes nothing or\n  completes at the next catalog open or commit.\n\n## Bucketed-table self-join (zero Exchange)\n\n`tests/test_plans.py::test_bucketed_table_join_skips_exchange` pins it:\ntwo scans of a table written `bucketBy(8, doc_id).sortBy(doc_id)`\nsort-merge-join with NO Exchange on either side, while the plain parquet\ntwin shuffles both. At 100 TB, bucketing the hot join keys (doc_id,\nconv_id, entity_id) converts every recurring join/dedup re-check from a\nfull-table shuffle into a local merge.\n\n## Python-bound stages and task slots (BENCH.md round 3)\n\nThe fused extract+link stage is python-worker-bound: the JVM task thread\nidles on the Arrow round trip (executorCpuTime ≈ 6% of run time), so 1\ntask slot per core leaves cores idle in scheduling gaps and stage tails.\nSlots = 1.25 × cores (uniform, every cluster size) recovered 0.78 → 0.90\nN→4N scaling efficiency; per-turn python CPU is parallelism-independent\n(28-29 µs), confirming the loss was idleness, not contention.\n\n## Bucketed PageRank fanout (the repeated-join consumer of bucketing)\n\nPer iteration, `pagerank_fixed(fanout=spark.table("fanout_bkt"))` joins the\nbucketed-by-src fanout against the current rank vector:\n\n```\nHashAggregate(keys=[id], functions=[sum(c)])       <- dst-keyed contrib agg\n+- Exchange hashpartitioning(id)                   <- ONLY exchange (dst key)\n   +- Project [dst AS id, rank*w/strength AS c]\n      +- SortMergeJoin [src], [id]\n         :- Sort [src]                              <- NO Exchange: bucketed scan\n         :  +- FileScan parquet fanout_bkt ... SelectedBucketsCount: 32 out of 32\n         +- Sort [id]\n            +- Exchange hashpartitioning(id)        <- |V|-sized rank vector only\n```\n\nThe |E|-sized side never re-exchanges (plain parquet or even a memory cache\npays that every iteration). Measured: −45% shuffle-write bytes, BENCH.md.\n\n## PQ-ADC scan (compressed corpus, broadcast LUTs)\n\n`topk_pq_adc` / `topk_ivfpq` are two chained map-only stages plus one window:\n\n```\nWindow [row_number() over (partition by q_id order by score desc, c_id)]\n+- Exchange hashpartitioning(q_id)            <- O(partitions · queries · k) rows\n   +- MapInPandas [scan: LUT sums, per-partition lexsort top-k]\n      +- MapInPandas [encode: unit-normalize, bucket argmax (f64), PQ codes]\n         +- FileScan parquet embeddings       <- the corpus never shuffles\n```\n\nScoring reads m one-byte codes per candidate instead of 4·dim vector bytes;\nonly per-partition top-k candidates reach the exchange. Determinism contract:\nprobe/LUT kernels run per query row (BLAS float32 output is batch-shape\ndependent — measured), bucket argmax in float64, boundary ties lexsorted by\nc_id exactly as the final window resolves them.\n\n## Salted hot-key join (operators/assembly.salted_join)\n\n```\nProject [drop __lane]\n+- SortMergeJoin [k, __lane], [k, __lane]\n   :- Exchange hashpartitioning(k, __lane)    <- hot key spread over n lanes\n   :  +- Project [fact.*, pmod(xxhash64(id), n) AS __lane]\n   +- Exchange hashpartitioning(k, __lane)\n      +- Generate explode([0..n-1]) AS __lane <- dim replicated n×\n```\n\nRow-identical to the plain join; the exchange key gains entropy. The manual\nfallback where AQE skew-join cannot rewrite (stream-static) or the dim is too\nbig to broadcast.\n'


def main() -> None:
    from pyspark.sql import functions as F

    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    spark = session("dump-plans")

    fx = fixtures.generate(seed=42, n_conversations=20, n_entities=50)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())

    def fmt(df) -> str:
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            df.explain(mode="formatted")
        return out.getvalue()[:-1]  # explain() prints: drop print's newline

    sections = []

    sections.append(
        (
            "Fused triples plan (map-only: scan → project → MapInArrow; zero Exchange)",
            fmt(pipe.triples(tdf)),
        )
    )
    sections.append(
        (
            "kg_edges rollup (partial HashAggregate → single Exchange → final)",
            fmt(pipe.kg_edges(pipe.triples(tdf))),
        )
    )
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") > "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    sections.append(
        ("Parquet scan with pushed filter + pruned schema", fmt(li))
    )
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    sections.append(
        (
            "Dimension enrich join (BroadcastHashJoin, fact side unshuffled)",
            fmt(c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])),
        )
    )

    from cdrc_semantic_search_spark.operators.temporal import asof_join_backward

    ev = spark.read.parquet(f"{SF}/events.parquet")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    sections.append(
        (
            "As-of join (union → ONE Exchange on the key → one Window; no join operator at all)",
            fmt(asof_join_backward(clicks, purch, key="user_id", value_cols=["value"])),
        )
    )

    docs = os.path.join(REPO_ROOT, "docs")
    os.makedirs(docs, exist_ok=True)
    with open(os.path.join(docs, "PLANS.md"), "w") as f:
        f.write("# Physical plans of the key operators\n\n")
        f.write(
            "Generated by `scripts/dump_plans.py`; the properties shown here "
            "are asserted in `tests/test_plans.py`.\n\n"
        )
        for title, plan in sections:
            f.write(f"## {title}\n\n```\n{plan}\n```\n\n")
        # hand-written epilogue: the ledger protocol has no .explain
        # output, so regeneration must not drop it
        f.write("\n" + EPILOGUE)
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
