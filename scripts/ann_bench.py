"""ANN scan bench: exact broadcast-BLAS vs PQ-ADC vs IVF×PQ at a scale
where the trade-offs are visible (default 500k × 64-dim, ~128 MB float32
corpus → ~4 MB of PQ codes).

What it demonstrates, with numbers instead of claims:

* **bytes scanned per query batch** — the PQ paths read m code bytes per
  candidate instead of 4·dim float bytes (the 100-TB lever: the scan
  side of a billion-vector corpus fits in page cache as codes).
* **wall time per variant** for the same 64-query top-10 workload, after
  an untimed warmup (local wall time is a weak proxy — at sandbox scale
  the whole corpus is in page cache either way, so the byte ratio is the
  durable number; recorded like the bucketed-fanout bench).
* **recall@10 vs the exact scan** for the approximate variants.

Results: JSON to stdout + scripts/.ann_bench.json + a BENCH.md section
(same contract as cc_bench.py / bucketed_pagerank_bench.py).
"""

from __future__ import annotations

import numpy as np

from _harness import publish, session, timed

N_VECS = 500_000
DIM = 64
N_QUERIES = 64
# k strictly below the 10-member cluster size: at k == cluster size every
# variant returns the whole cluster and recall is uninformatively 1.0;
# at k=5 the metric measures WITHIN-cluster ranking, exactly what
# quantization gives up (PQ codes barely separate co-cluster members)
K = 5


def build_corpus(spark):
    """Deterministic clustered corpus, generated DISTRIBUTED (no driver
    materialization): 256 hash-derived cluster centers + per-vector noise."""
    from pyspark.sql import functions as F

    # many SMALL clusters (10 members): a query's true top-10 is its
    # cluster, the granularity quantized search provides — fat clusters
    # would measure PQ's documented within-cluster blindness instead
    # (tests/test_ivf.py pins that trade-off explicitly)
    n_clusters = N_VECS // 10
    expr = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (
            (F.pmod(F.xxhash64(F.pmod(F.col("id"), F.lit(n_clusters)), d), F.lit(2000)) - 1000)
            / 250.0
            + (F.pmod(F.xxhash64(F.col("id"), d, F.lit(7)), F.lit(2000)) - 1000)
            / 2000.0
        ).cast("float"),
    )
    return (
        spark.range(N_VECS, numPartitions=32)
        .select(F.col("id").alias("c_id"), expr.alias("c_vec"))
    )


def main() -> None:
    from pyspark.sql import functions as F

    from cdrc_semantic_search_spark.operators.similarity import (
        topk_cosine_broadcast,
        topk_ivfpq,
        topk_pq_adc,
        topk_pq_rerank,
        train_centroids,
        train_pq_codebooks,
    )
    spark = session("ann-bench")

    corpus = build_corpus(spark)
    path = "/tmp/ann_bench_corpus"
    corpus.write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    n = corpus.count()

    sample = np.array(
        [
            np.asarray(r["c_vec"], dtype=np.float32)
            for r in corpus.filter("c_id < 2048").orderBy("c_id").collect()
        ]
    )
    cent = train_centroids(sample, n_centroids=64, seed=42)
    books = train_pq_codebooks(sample, m=8, k=256, seed=42)
    # HELD-OUT queries: corpus vector + deterministic gaussian noise.
    # Corpus-member queries score recall 1.0 on every variant here (the
    # query's own tight cluster IS its top-10, and quantized scores
    # preserve cluster membership) — the metric couldn't distinguish
    # quantization quality. A perturbed query's exact top-10 ordering
    # within the cluster is nontrivial, so PQ's within-cluster blindness
    # becomes visible in the recall column.
    rng = np.random.default_rng(123)
    q_base = np.stack(
        [
            np.asarray(r["c_vec"], dtype=np.float32)
            for r in corpus.filter(f"c_id < {N_QUERIES}").orderBy("c_id").collect()
        ]
    )
    q_vecs = q_base + rng.normal(0.0, 0.6, q_base.shape).astype(np.float32)
    q = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(q_vecs)],
        "q_id long, q_vec array<float>",
    )

    # exact ground truth via the broadcast-BLAS path (collect corpus once)
    rows = corpus.collect()
    ids = np.array([r["c_id"] for r in rows])
    mat = np.stack([np.asarray(r["c_vec"], dtype=np.float32) for r in rows])

    def hits(fn):
        out = {r["q_id"]: set() for r in q.select("q_id").collect()}
        for r in fn().collect():
            out[r["q_id"]].add(r["c_id"])
        return out

    def run(label, fn):
        fn().count()  # warmup (codegen + python workers + page cache)
        out, sec = timed(lambda: hits(fn))
        print(f"  {label}: {sec}s", flush=True)
        return sec, out

    sec_exact, exact = run(
        "exact broadcast-BLAS",
        lambda: topk_cosine_broadcast(spark, q, ids, mat, k=K),
    )
    sec_pq, pq = run(
        "PQ-ADC full scan",
        lambda: topk_pq_adc(spark, q, corpus, books, k=K),
    )
    sec_ivfpq, ivfpq = run(
        "IVF×PQ (8/64 buckets probed)",
        lambda: topk_ivfpq(spark, q, corpus, cent, books, k=K, n_probe=8),
    )
    sec_rerank, rerank = run(
        "PQ-ADC + exact re-rank (shortlist 4·k)",
        lambda: topk_pq_rerank(spark, q, corpus, books, k=K, shortlist=4 * K),
    )

    def recall(approx):
        hit = sum(len(exact[qid] & approx.get(qid, set())) for qid in exact)
        return round(hit / (len(exact) * K), 3)

    out = {
        "n_vectors": n,
        "dim": DIM,
        "k": K,
        "n_queries": N_QUERIES,
        "float_bytes_per_vec": 4 * DIM,
        "code_bytes_per_vec": books.shape[0],
        "variants": [
            {"variant": "exact broadcast-BLAS", "sec": sec_exact, "recall": 1.0},
            {"variant": "PQ-ADC full scan", "sec": sec_pq, "recall": recall(pq)},
            {
                "variant": "IVF×PQ n_probe=8/64",
                "sec": sec_ivfpq,
                "recall": recall(ivfpq),
            },
            {
                "variant": "PQ-ADC + exact re-rank (shortlist 4·k)",
                "sec": sec_rerank,
                "recall": recall(rerank),
            },
        ],
    }
    publish("ann_bench", out, "## ANN scan at ", "\n" + render_section(out))
    spark.stop()


def render_section(out: dict) -> str:
    lines = [
        f"## ANN scan at {out['n_vectors']:,} vectors × {out['dim']} dims "
        f"(top-{out['k']}, {out['n_queries']} queries)\n",
        f"Scan-side bytes per candidate: {out['float_bytes_per_vec']} float "
        f"vs **{out['code_bytes_per_vec']} PQ code bytes "
        f"({out['float_bytes_per_vec'] // out['code_bytes_per_vec']}× smaller)** "
        "— the durable number; at this sandbox scale both corpora sit in "
        "page cache, so wall time under-sells the compression.\n",
        f"| variant | wall sec | recall@{out['k']} |",
        "|---|---|---|",
    ]
    for v in out["variants"]:
        lines.append(f"| {v['variant']} | {v['sec']} | {v['recall']} |")
    lines.append(
        "\nReproduce: `python scripts/ann_bench.py`. Clustered deterministic "
        "corpus (hash-derived, generated distributed); codebooks m=8/k=256 "
        "trained on a 2048-vector sorted sample; warmup pass untimed. "
        "Queries are HELD-OUT (corpus vector + deterministic gaussian "
        "noise, σ=0.6): corpus-member queries would score 1.0 on every "
        "variant and hide quantization quality.\n"
    )
    return "\n".join(lines)


if __name__ == "__main__":
    main()
