"""Similarity search over an embedding column (``array<float>``).

Re-expression of the reference's ANN query path (Pinecone top-k cosine,
/root/reference/src/model.py:73-79, src/visualise_embeddings.py:12-18)
plus the scale paths a 100-TB pipeline needs:

* ``topk_cosine_exact`` — declarative cross-join + window top-k. Catalyst
  all the way (zip_with/aggregate dot product), exactly SQL-expressible →
  DuckDB oracle. Right answer for small query sets / small corpora.
* ``topk_cosine_broadcast`` — NumPy BLAS matmul of each Arrow batch of
  queries against a BROADCAST unit-normalized corpus matrix; exact top-k
  via argpartition. The big side streams, never shuffles. This is the
  production path when the index fits an executor (entity catalogues,
  centroid tables).
* ``lsh_assign`` / ``cosine_pairs_lsh`` — random-hyperplane signatures
  bucket both sides; candidates only join within a bucket (banded), then
  exact cosine re-rank. Sub-quadratic self-join for corpus×corpus jobs
  where neither side broadcasts.

Tie-break everywhere: (score desc, id asc) — FIXTURES.md §3.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.functions import vector as V
from cdrc_semantic_search_spark.functions.names import internal_col


def _two_stage_topk(scored: DataFrame, q_id: str, c_id: str, k: int) -> DataFrame:
    """Shared rank kernel: top-k of a scored (q_id, c_id, score) frame by
    (score desc, c_id asc) — a per-scan-partition rank first, so the
    global (q_id)-window (whose parallelism is only |queries|) sorts at
    most n_partitions·k rows per query instead of the whole corpus.
    Both topk_cosine_exact and hard_negatives rank through here — the
    tie-break and two-stage contract live in ONE place."""
    taken = {q_id, c_id, "score", "rank"}
    part = internal_col(taken, "__part")
    prank = internal_col(taken | {part}, "__prank")
    pw = Window.partitionBy(q_id, part).orderBy(F.desc("score"), F.asc(c_id))
    partial = (
        scored.withColumn(part, F.spark_partition_id())
        .withColumn(prank, F.row_number().over(pw))
        .filter(F.col(prank) <= k)
        .drop(part, prank)
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_cosine_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Exact brute-force top-k: broadcast(queries) ⨯ corpus → two-stage
    window top-k (per-scan-partition rank, then global rank per query).

    The QUERY side broadcasts (it is the small side by construction); the
    corpus scan stays pruned to (id, vec). Returns
    (q_id, c_id, score, rank) with rank 1..k by (score desc, c_id asc).
    """
    # Norms are per-ROW quantities: hoist them out of the cross join so
    # each is folded once per input row, not once per (q, c) pair —
    # V.cosine inline would re-run the aggregate() fold for |q|·|c| pairs,
    # 3× the higher-order-function work (dot + both norms) of this form.
    # score = dot/(norm_q·norm_c) is the same double-precision expression
    # tree either way, so oracle value-hashes are unchanged.
    taken = {q_id, c_id, q_vec, c_vec, "score", "rank"}
    nq = internal_col(taken, "__qnorm")
    nc = internal_col(taken | {nq}, "__cnorm")
    q = queries.select(F.col(q_id), F.col(q_vec)).withColumn(nq, V.norm(F.col(q_vec)))
    # the corpus is the probe side: the broadcast join runs at the corpus
    # scan's parallelism, and AQE plans the top-k exchange after it
    c = corpus.select(F.col(c_id), F.col(c_vec)).withColumn(nc, V.norm(F.col(c_vec)))
    scored = F.broadcast(q).crossJoin(c).select(
        q_id,
        c_id,
        (V.dot(F.col(q_vec), F.col(c_vec)) / (F.col(nq) * F.col(nc))).alias("score"),
    )
    return _two_stage_topk(scored, q_id, c_id, k)


def topk_cosine_broadcast(
    spark,
    queries: DataFrame,
    corpus_ids: np.ndarray,
    corpus_matrix: np.ndarray,
    k: int,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    q_id_type: str = "long",
    c_id_type: str = "long",
) -> DataFrame:
    """Exact top-k against a broadcast corpus matrix (unit rows assumed).

    (B, dim) @ (dim, M) BLAS per Arrow batch; argpartition top-k; the
    streaming side never shuffles — at 10^12 rows this is a single
    map-only stage.
    """
    norms = np.linalg.norm(corpus_matrix, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = (corpus_matrix / norms).astype(np.float32)
    bc = spark.sparkContext.broadcast((corpus_ids, unit))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf[q_vec].to_numpy()).astype(np.float32)
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            sims = (q / qn) @ mat.T
            nq, m = sims.shape
            kk = min(k, m)
            # vectorized top-k with (score desc, id asc) tie-break: O(M) partition
            # per row, then lexsort only the k-slice — no per-row Python sort.
            if kk < m:
                part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            else:
                part = np.tile(np.arange(m), (nq, 1))
            cand_scores = np.take_along_axis(sims, part, axis=1)
            cand_ids = ids[part]
            order = np.lexsort((cand_ids, -cand_scores), axis=1)
            ranked_ids = np.take_along_axis(cand_ids, order, axis=1)
            ranked_scores = np.take_along_axis(cand_scores, order, axis=1)
            yield pd.DataFrame(
                {
                    q_id: np.repeat(pdf[q_id].to_numpy(), kk),
                    "c_id": ranked_ids.reshape(-1),
                    "score": ranked_scores.reshape(-1).astype(np.float64),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), nq),
                }
            )

    return queries.select(q_id, q_vec).mapInPandas(
        run, schema=f"{q_id} {q_id_type}, c_id {c_id_type}, score double, rank int"
    )


def lsh_planes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """The seeded random-hyperplane matrix (dim, n_planes), float32 —
    shared by the Spark operator and the pure-Python oracle twin so both
    compute bit-identical signatures."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes)).astype(np.float32)


def lsh_bucket_matrix(
    vecs: np.ndarray, planes: np.ndarray, n_bands: int
) -> np.ndarray:
    """(n_rows, n_bands) int64 bucket ids from sign(v @ planes), bits
    packed MSB-first per band. float32 matmul throughout — deterministic
    for a given BLAS, and the oracle twin calls this same kernel."""
    bits = (vecs.astype(np.float32) @ planes) >= 0  # (B, n_planes) bool
    n_planes = planes.shape[1]
    bpb = n_planes // n_bands
    weights = (1 << np.arange(bpb - 1, -1, -1)).astype(np.int64)
    out = np.empty((len(vecs), n_bands), dtype=np.int64)
    for b in range(n_bands):
        out[:, b] = bits[:, b * bpb : (b + 1) * bpb].astype(np.int64) @ weights
    return out


def lsh_assign(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Attach (band, bucket) rows per input row via random hyperplanes.

    Signature bits = sign(v @ P); ``n_planes`` bits split into ``n_bands``
    bands; a row lands in one bucket per band → explode to n_bands rows.
    Two vectors share ≥1 (band, bucket) with probability rising steeply
    with cosine — the classic banding amplification.

    All n_planes signature bits come from ONE batched NumPy
    (B, dim) @ (dim, n_planes) matmul per Arrow batch (the ivf_assign
    pattern) — the previous form computed n_planes interpreted
    higher-order ``aggregate`` folds per row, which NOTES.md measured at
    ~8× a Python loop. The vector is omitted from the output, so a
    downstream exchange on (band, bucket) never carries the embedding
    payload.

    Rows with a NULL vector are DROPPED (they cannot be bucketed; their
    cosine is NULL and could never pass a threshold re-check anyway —
    np.stack would otherwise crash the executor on them). They are
    dropped inside the batch pass, not by a ``filter``: the optimizer
    would push ``isnotnull(vec)`` below an upstream aggregation and run
    a vector-producing UDF a second time, over the pre-aggregation rows.
    """
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    planes = lsh_planes(dim, n_planes, seed)
    out_cols = [c for c in df.columns if c != vec_col]
    out_schema = StructType(
        [df.schema[c] for c in out_cols]
        + [StructField("band", IntegerType()), StructField("bucket", LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy())
            buckets = lsh_bucket_matrix(v, planes, n_bands)
            out = pdf.loc[pdf.index.repeat(n_bands), out_cols].reset_index(drop=True)
            out["band"] = np.tile(np.arange(n_bands, dtype=np.int32), len(pdf))
            out["bucket"] = buckets.reshape(-1)
            yield out

    return df.mapInPandas(run, schema=out_schema)


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Self-join near-neighbor pairs (id_a < id_b, cosine ≥ threshold).

    Shuffle is on (band, bucket) — sub-quadratic candidate generation;
    exact cosine re-check after. The all-pairs cross join never happens.

    The candidate exchange carries IDS ONLY: the (band, bucket) tags are
    joined without vectors, duplicates collapse on the bare id pair, and
    the embeddings are re-joined ONCE per side afterwards. (Previously
    both self-join branches shipped the full vector through the
    (band, bucket) exchange — n_bands× duplication of the embedding
    payload — and dropDuplicates re-shuffled the pairs with both vectors
    attached; at a 100-TB embedding table the shuffle would be dominated
    by redundant vector bytes.)

    For clustering, canonicalize.similarity_forest keeps the vector
    through one bucket exchange instead and emits a spanning forest, not
    the pair list.
    """
    base = df.select(F.col(id_col), F.col(vec_col))
    tagged = lsh_assign(base, vec_col, dim, n_planes, n_bands, seed)
    a = tagged.select("band", "bucket", F.col(id_col).alias("id_a"))
    b = tagged.select("band", "bucket", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return exact_recheck(base, cand, id_col, vec_col).filter(
        F.col("score") >= threshold
    )


def exact_recheck(
    base: DataFrame, cand: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Score candidate id pairs (id_a, id_b) with exact cosine by
    re-joining the (id, vec) ``base`` once per side → (id_a, id_b, score).

    The one expensive join in embedding dedup: at 100 TB the base is the
    billion-row side. Store it BUCKETED by ``id_col`` (bucketBy + sortBy)
    and both re-joins read the buckets in place — zero base-side Exchange,
    only the candidate pairs shuffle (alias-aware output partitioning
    carries the bucket layout through the per-side renames; plan-pinned in
    test_bucketing, shuffle bytes measured in BENCH.md via
    scripts/dedup_bucket_bench.py).
    """
    va = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", V.cosine(F.col("vec_a"), F.col("vec_b")).alias("score")
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path when the corpus outgrows broadcast
# ---------------------------------------------------------------------------

def train_centroids(
    sample: np.ndarray, n_centroids: int, n_iter: int = 10, seed: int = 42
) -> np.ndarray:
    """Deterministic mini Lloyd's k-means on a driver-side sample
    (production: sample via df.sample(), train once, broadcast forever).
    Returns unit-normalized (n_centroids, dim) float32 centroids."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = (sample / norms).astype(np.float32)
    cent = x[rng.choice(n, size=min(n_centroids, n), replace=False)].copy()
    for _ in range(n_iter):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[c] = v / nv
    return cent


def ivf_assign(
    spark,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
) -> DataFrame:
    """Attach the nearest-centroid bucket id (map-only, broadcast matmul).

    The argmax matmul runs in float64: BLAS results are batch-shape
    dependent (Arrow batch boundaries move with partitioning), and at
    float32 a ~1e-7 near-tie between two centroids could flip a vector's
    bucket across partitionings; at float64 the flip needs a ~1e-16
    coincidence — the same tolerance class the SQL oracles' ROUND(6)
    convention already accepts."""
    bc = spark.sparkContext.broadcast(centroids)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value.astype(np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            u = _unit_rows(v).astype(np.float64)
            bucket = (u @ cent.T).argmax(axis=1).astype(np.int32)
            out = pdf[[id_col, vec_col]].copy()
            out["bucket"] = bucket
            yield out

    vec_type = dict(df.dtypes)[vec_col]
    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).filter(
        F.col(vec_col).isNotNull()  # see pq_encode
    ).mapInPandas(
        run, schema=f"{id_col} {id_type}, {vec_col} {vec_type}, bucket int"
    )


def topk_cosine_ivf(
    spark,
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int,
    n_probe: int = 4,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Approximate top-k: queries probe their ``n_probe`` nearest centroid
    buckets and re-rank exactly WITHIN those buckets only.

    Physical shape at scale: corpus is bucket-assigned once (map-only) and
    can be written bucket-partitioned; a query joins only its probed
    buckets — the equi-join on ``bucket`` replaces the all-pairs cross
    join, cutting compared candidates by ~n_centroids/n_probe.
    Recall < 1.0 by construction; raise n_probe to trade compute back.
    """
    bc = spark.sparkContext.broadcast(centroids)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        p = min(n_probe, len(cent))
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[q_vec].to_numpy()).astype(np.float32)
            # per-row + float64 probe kernel: batch-shape independent,
            # shared with the oracle twins (see _probe_sets)
            top = _probe_sets(_unit_rows(v), cent, p)
            out = pdf.loc[pdf.index.repeat(p), [q_id, q_vec]].reset_index(drop=True)
            out["bucket"] = top.reshape(-1).astype(np.int32)
            yield out

    q_vec_type = dict(queries.dtypes)[q_vec]
    q_id_type = dict(queries.dtypes)[q_id]
    probed = queries.select(q_id, q_vec).filter(
        F.col(q_vec).isNotNull()  # see pq_encode
    ).mapInPandas(
        probe, schema=f"{q_id} {q_id_type}, {q_vec} {q_vec_type}, bucket int"
    )
    tagged = ivf_assign(spark, corpus, c_id, c_vec, centroids)
    scored = probed.join(tagged, "bucket").select(
        q_id, c_id, V.cosine(F.col(q_vec), F.col(c_vec)).alias("score")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------- product
# quantization: the memory-side ANN scale lever (IVF cuts candidates,
# PQ cuts bytes/candidate — 64-dim float32 → 8 one-byte codes is 32×,
# letting a 100-TB embedding corpus's scan side live in RAM/cache)

def train_pq_codebooks(
    sample: np.ndarray,
    m: int = 8,
    k: int = 16,
    n_iter: int = 10,
    seed: int = 42,
    normalize: bool = True,
) -> np.ndarray:
    """Deterministic per-subspace L2 Lloyd's k-means over a driver-side
    sample → (m, k, dim/m) float32 codebooks.

    The sample is unit-normalized FIRST (PQ here approximates cosine via
    inner product over normalized vectors, consistent with the rest of
    this module); each of the ``m`` contiguous sub-vectors then gets its
    own k-means. Same training discipline as :func:`train_centroids`:
    driver-side deterministic sample in, broadcast codebooks out — the
    codebooks are an INPUT of the distributed operators, so the
    pure-NumPy oracle twin can share them as specification.
    """
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if k < 1:
        raise ValueError("k must be >= 1")
    # normalize=False for RESIDUAL training: residuals (vector − coarse
    # centroid) must keep their geometry, re-normalizing would distort it
    x = _unit_rows(sample) if normalize else sample.astype(np.float32)
    sub = dim // m
    # truncate, never zero-pad: a sample smaller than k must not leave
    # phantom all-zero centroids that _pq_codes would treat as real
    # (they'd absorb assignments and score 0.0 against every query)
    k_eff = min(k, len(x))
    books = np.zeros((m, k_eff, sub), dtype=np.float32)
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        rng = np.random.default_rng(seed + j)
        cent = xs[rng.choice(len(xs), size=k_eff, replace=False)].copy()
        for _ in range(n_iter):
            d = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0, dtype=np.float32)
        books[j] = cent
    return books


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-wise unit normalization, float32, zero rows kept as zeros —
    the ONE normalization discipline for every ANN kernel in this module
    (and the oracle twins, which import it)."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return (m / n).astype(np.float32)


def _pq_luts(q_mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n_q, dim) unit float32 queries → (n_q, m, k) float32 IP lookup
    tables. Shared specification kernel: the oracle twin calls this SAME
    function; each query row is multiplied SEPARATELY ((1, sub) @
    (sub, k)) because BLAS results are shape-dependent — a batched sgemm
    over n_q rows rounds float32 sums differently than the twin's
    one-query call would, and a ~1 ulp difference near a ROUND(6)
    boundary would break the VALUES hash."""
    m, _, sub = books.shape
    out = np.empty((len(q_mat), m, books.shape[1]), dtype=np.float32)
    for qi in range(len(q_mat)):
        row = q_mat[qi : qi + 1]
        for j in range(m):
            out[qi, j] = (row[:, j * sub : (j + 1) * sub] @ books[j].T)[0]
    return out


def _probe_sets(
    q_mat: np.ndarray, centroids: np.ndarray, p: int
) -> np.ndarray:
    """(n_q, p) int probe buckets, one (1, dim) @ (dim, n_cent) matmul
    per query row — shared specification kernel, per-row for the same
    shape-dependence reason as :func:`_pq_luts`; float64 so a near-tie
    at the p-th bucket needs a ~1e-16 coincidence to flip."""
    c64 = centroids.astype(np.float64)
    p = min(p, len(centroids))
    out = np.empty((len(q_mat), p), dtype=np.int64)
    for qi in range(len(q_mat)):
        sims = (q_mat[qi : qi + 1].astype(np.float64) @ c64.T)[0]
        out[qi] = np.argpartition(-sims, p - 1)[:p]
    return out


def _topk_tiesafe(s: np.ndarray, cids: np.ndarray, take: int) -> np.ndarray:
    """Indices of the top-``take`` scores under the (-score, c_id)
    tie-break, O(n) selection + lexsort of only the candidate slice: the
    kth-largest VALUE bounds the slice from below with every boundary
    tie included (s >= v), so no tied candidate the global tie-break
    would pick can be evicted — the correctness argpartition alone
    cannot give, at a fraction of a full lexsort."""
    n = len(s)
    if take >= n:
        return np.lexsort((cids, -s))[:take]
    v = np.partition(s, n - take)[n - take]
    idx = np.flatnonzero(s >= v)
    return idx[np.lexsort((cids[idx], -s[idx]))][:take]


def train_residual_codebooks(
    sample: np.ndarray,
    centroids: np.ndarray,
    m: int = 8,
    k: int = 16,
    n_iter: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Codebooks over RESIDUALS (unit vector − its coarse centroid) —
    the true FAISS-IVFPQ formulation. Residuals concentrate near zero
    with the cluster-level structure removed, so the same code budget
    quantizes the WITHIN-cluster detail plain PQ throws away (measured
    in test_ivf: plain PQ recall collapses on fat clusters). Scoring
    adds back the analytic q·centroid term per bucket (see topk_ivfpq
    residual=True)."""
    u = _unit_rows(sample)
    assign = (u.astype(np.float64) @ centroids.astype(np.float64).T).argmax(axis=1)
    res = u - centroids[assign].astype(np.float32)
    return train_pq_codebooks(res, m, k, n_iter, seed, normalize=False)


def _query_centroid_ip(q_mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """(n_q, n_cent) float32 q·centroid terms, one (1, dim) matmul per
    query row — shared specification kernel (see _pq_luts for why
    per-row)."""
    out = np.empty((len(q_mat), len(centroids)), dtype=np.float32)
    for qi in range(len(q_mat)):
        out[qi] = (q_mat[qi : qi + 1] @ centroids.T)[0]
    return out


def _pq_codes(v: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) unit-normalized float32 → (n, m) int32 code matrix."""
    m, _, sub = books.shape
    codes = np.empty((len(v), m), dtype=np.int32)
    for j in range(m):
        xs = v[:, j * sub : (j + 1) * sub]
        d = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d.argmin(axis=1)
    return codes


def pq_encode(
    spark,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
) -> DataFrame:
    """Attach PQ codes (map-only, broadcast codebooks) → (id, codes:
    array<int>). Vectors are unit-normalized before encoding (cosine-IP
    convention); at scale this frame is what gets MATERIALIZED — m bytes
    of code per vector instead of 4·dim — and the float vectors are only
    fetched to re-rank a final candidate page."""
    bc = spark.sparkContext.broadcast(codebooks)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            codes = _pq_codes(_unit_rows(v), books)
            out = pdf[[id_col]].copy()
            out["codes"] = list(codes)
            yield out

    id_type = dict(df.dtypes)[id_col]
    # NULL vectors cannot be encoded (np.stack would crash the executor);
    # dropped like lsh_assign does — they could never score anyway
    return df.select(id_col, vec_col).filter(
        F.col(vec_col).isNotNull()
    ).mapInPandas(run, schema=f"{id_col} {id_type}, codes array<int>")


def topk_pq_adc(
    spark,
    queries: DataFrame,
    corpus: DataFrame | None,
    codebooks: np.ndarray,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: the corpus
    is PQ-encoded (map-only), each query builds an (m, k) inner-product
    lookup table against the codebooks, and a candidate's score is the
    sum of m table lookups — no float vector is touched on the scan
    side.

    Physical shape: queries are COLLECTED driver-side and broadcast
    (they are the small side, same contract as topk_cosine_broadcast);
    the encoded corpus streams through one map-only stage emitting each
    partition's per-query top-k only (k rows per query per partition,
    never the full score matrix), and one final window pass reduces
    partitions' candidates to the global top-k. The |corpus| side never
    shuffles; shuffle volume is O(partitions · queries · k).

    Scores are float32 LUT sums (quantization error ≈ subspace
    reconstruction error); ties and ordering follow (-score, c_id) as
    everywhere in this module. Exact re-ranking of the final page is the
    caller's optional second stage (fetch k·r true vectors by id).
    """
    if (corpus is None) == (encoded is None):
        raise ValueError("pass exactly one of corpus or encoded")
    q_id_type = dict(queries.dtypes)[q_id]
    c_id_type = dict((corpus if encoded is None else encoded).dtypes)[c_id]
    q_rows = [
        r for r in queries.select(q_id, q_vec).collect() if r[1] is not None
    ]
    if not q_rows:
        # same schema as the non-empty path, not hardcoded long ids
        return spark.createDataFrame(
            [], f"{q_id} {q_id_type}, {c_id} {c_id_type}, score double, rank int"
        )
    q_ids = [r[0] for r in q_rows]
    q_mat = _unit_rows(
        np.stack([np.asarray(r[1], dtype=np.float32) for r in q_rows])
    )
    # (n_q, m, k) inner-product tables: q_sub · codebook entry
    luts = _pq_luts(q_mat, codebooks)
    bc = spark.sparkContext.broadcast((q_ids, luts, k))
    if encoded is None:
        encoded = pq_encode(spark, corpus, c_id, c_vec, codebooks)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, tables, topk = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (n_c, m)
            cids = pdf[c_id].to_numpy()
            n_c = len(codes)
            take = min(topk, n_c)
            rows = {q_id: [], c_id: [], "score": []}
            for qi, qid in enumerate(ids):
                # scores: sum over subspaces of LUT lookups, float32,
                # fixed m-order — bit-identical to the NumPy twin
                s = np.zeros(n_c, dtype=np.float32)
                for j in range(tables.shape[1]):
                    s += tables[qi, j][codes[:, j]]
                # tie-safe selection (see _topk_tiesafe): quantized
                # scores tie for REAL (duplicate vectors share codes),
                # and a boundary tie must resolve by c_id exactly as
                # the global window will
                part = _topk_tiesafe(s, cids, take)
                rows[q_id].extend([qid] * take)
                rows[c_id].extend(cids[part])
                rows["score"].extend(s[part].astype(float))
            yield pd.DataFrame(rows)

    scored = encoded.mapInPandas(
        scan, schema=f"{q_id} {q_id_type}, {c_id} {c_id_type}, score double"
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_ivfpq(
    spark,
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int,
    n_probe: int = 4,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    residual: bool = False,
) -> DataFrame:
    """IVF×PQ composition (the FAISS-IVFPQ shape): IVF cuts WHICH
    candidates are scored (each query probes its ``n_probe`` nearest
    coarse buckets), PQ cuts WHAT a candidate costs (m one-byte codes +
    LUT sum instead of a float dot product). Together they are the
    standard billion-vector recipe — candidates ↓ n_centroids/n_probe,
    bytes/candidate ↓ 4·dim/m.

    Physical shape: the corpus is bucket-assigned AND PQ-encoded in one
    map-only pass (at scale: materialized once, bucket-partitioned);
    queries are collected driver-side (small side) and their LUTs
    broadcast; scoring runs inside a mapInPandas over each corpus
    partition, consulting only the queries that probed each row's
    bucket, and emits per-(partition, query) top-k. One window pass
    reduces to the global top-k. The corpus side never shuffles.

    Same determinism contract as :func:`topk_pq_adc`: shared LUT/code
    kernels, float32 LUT sums in fixed subspace order, lexsort + c_id
    tie-break — partition-invariant, VALUES-oracle-able.

    ``residual=True``: ``codebooks`` must come from
    :func:`train_residual_codebooks`; each vector is encoded as codes of
    (unit − coarse centroid) and scored as q·centroid[bucket] + the LUT
    sum — same plan shape, one extra broadcast (n_q, n_cent) float32
    table of analytic centroid terms.
    """
    q_id_type = dict(queries.dtypes)[q_id]
    c_id_type = dict(corpus.dtypes)[c_id]
    q_rows = [
        r for r in queries.select(q_id, q_vec).collect() if r[1] is not None
    ]
    if not q_rows:
        return spark.createDataFrame(
            [], f"{q_id} {q_id_type}, {c_id} {c_id_type}, score double, rank int"
        )
    q_ids = [r[0] for r in q_rows]
    q_mat = _unit_rows(
        np.stack([np.asarray(r[1], dtype=np.float32) for r in q_rows])
    )
    luts = _pq_luts(q_mat, codebooks)
    probed = _probe_sets(q_mat, centroids, n_probe)  # (n_q, p)
    qc = _query_centroid_ip(q_mat, centroids) if residual else None
    bc = spark.sparkContext.broadcast((q_ids, luts, probed, k, qc))

    bc_cent = spark.sparkContext.broadcast(centroids)
    bc_books = spark.sparkContext.broadcast(codebooks)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc_cent.value
        books = bc_books.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[c_vec].to_numpy()).astype(np.float32)
            u = _unit_rows(v)
            out = pdf[[c_id]].copy()
            # float64 argmax: batch-shape-robust bucketing (see ivf_assign)
            bucket = (
                (u.astype(np.float64) @ cent.astype(np.float64).T)
                .argmax(axis=1)
            )
            out["bucket"] = bucket.astype(np.int32)
            enc_in = (
                u - cent.astype(np.float32)[bucket] if residual else u
            )
            out["codes"] = list(_pq_codes(enc_in, books))
            yield out

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, tables, probes, topk, qcent = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())
            buckets = pdf["bucket"].to_numpy()
            cids = pdf[c_id].to_numpy()
            present = set(buckets.tolist())
            rows = {q_id: [], c_id: [], "score": []}
            for qi in range(len(ids)):
                want = [int(b) for b in probes[qi] if int(b) in present]
                if not want:
                    continue
                mask = np.isin(buckets, np.asarray(want, dtype=buckets.dtype))
                sub_codes = codes[mask]
                sub_ids = cids[mask]
                s = np.zeros(len(sub_codes), dtype=np.float32)
                for j in range(tables.shape[1]):
                    s += tables[qi, j][sub_codes[:, j]]
                if qcent is not None:
                    # analytic coarse term LAST, after the LUT sums —
                    # the twin adds in the same order
                    s += qcent[qi][buckets[mask]]
                take = min(topk, len(sub_codes))
                part = _topk_tiesafe(s, sub_ids, take)
                rows[q_id].extend([ids[qi]] * take)
                rows[c_id].extend(sub_ids[part])
                rows["score"].extend(s[part].astype(float))
            yield pd.DataFrame(rows)

    encoded = corpus.select(c_id, c_vec).filter(
        F.col(c_vec).isNotNull()  # see pq_encode
    ).mapInPandas(
        encode, schema=f"{c_id} {c_id_type}, bucket int, codes array<int>"
    )
    scored = encoded.mapInPandas(
        scan, schema=f"{q_id} {q_id_type}, {c_id} {c_id_type}, score double"
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )



def topk_pq_rerank(
    spark,
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: np.ndarray,
    k: int,
    shortlist: int = 20,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """The full production retrieval pattern: PQ-ADC builds a cheap
    ``shortlist`` per query over the compressed corpus, then ONLY the
    shortlisted candidates' true vectors are fetched (one semi-sized
    equi-join by id) and re-ranked with the exact cosine → top-``k``
    with true scores.

    This recovers what quantization loses (PQ cannot rank within a
    tight cluster — measured in test_ivf) at the cost of touching
    |queries|·shortlist float vectors instead of |corpus|: the coarse
    stage reads m bytes/candidate, the fine stage is a candidate-page
    fetch. Exactness of the OUTPUT scores means the re-rank stage is
    SQL-expressible — the oracle twin only needs the shortlist from the
    shared PQ kernels, then plain fold-cosine.
    """
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    short = topk_pq_adc(
        spark, queries, corpus, codebooks, shortlist,
        q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec,
    ).select(q_id, c_id)
    cand = short.join(corpus.select(c_id, c_vec), c_id)
    rescored = cand.join(F.broadcast(queries.select(q_id, q_vec)), q_id).select(
        q_id, c_id, V.cosine(F.col(q_vec), F.col(c_vec)).alias("score")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# -------------------------------------------------------------- PQ index
# lifecycle: build once, store codes + codebooks as catalog tables, query
# and upsert without ever re-touching the float corpus (the reference's
# K1 vector-index-upsert analog, /root/reference/src/datastore.py:88-95,
# re-expressed as table materialization instead of a Pinecone call)

def codebooks_to_df(spark, codebooks: np.ndarray) -> DataFrame:
    """(m, k, sub) float32 codebooks → rows (subspace, code, vals) — the
    storable form; tiny (m·k rows)."""
    rows = [
        (j, c, [float(x) for x in codebooks[j, c]])
        for j in range(codebooks.shape[0])
        for c in range(codebooks.shape[1])
    ]
    return spark.createDataFrame(rows, "subspace int, code int, vals array<float>")


def codebooks_from_df(df: DataFrame) -> np.ndarray:
    """Inverse of :func:`codebooks_to_df` (driver-side collect — the
    codebook table is m·k rows by construction)."""
    rows = df.collect()
    if not rows:
        raise ValueError("codebooks table is empty (torn write?)")
    m = 1 + max(r["subspace"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    if len(rows) != m * k:
        # a partial table would silently zero-fill phantom centroids —
        # the exact hazard train_pq_codebooks refuses to create
        raise ValueError(
            f"codebooks table has {len(rows)} rows, expected {m * k} "
            "(torn write?)"
        )
    sub = len(rows[0]["vals"])
    books = np.zeros((m, k, sub), dtype=np.float32)
    for r in rows:
        books[r["subspace"], r["code"]] = np.asarray(r["vals"], dtype=np.float32)
    return books


def materialize_pq_index(
    spark,
    catalog,
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "c_id",
    vec_col: str = "c_vec",
    prefix: str = "pq_index",
) -> None:
    """Build + store the PQ index: ``<prefix>_codes`` (id, codes) and
    ``<prefix>_codebooks`` through the catalog. One map-only encode pass;
    after this, queries touch m bytes per candidate and the float corpus
    only for re-rank pages. Codes and codebooks land in one catalog
    commit, so a reader never pairs codes with another build's
    codebooks."""
    codes, books = f"{prefix}_codes", f"{prefix}_codebooks"
    catalog.stage(
        {
            codes: pq_encode(spark, corpus, id_col, vec_col, codebooks),
            books: codebooks_to_df(spark, codebooks),
        }
    )
    # a rebuild drops any streamed delta generation: stale deltas were
    # encoded under the PREVIOUS codebooks and would override the fresh
    # base on merge-on-read, silently scoring garbage against new LUTs
    catalog.commit(swap=[codes, books], drop=[f"{prefix}_code_deltas"])


def upsert_pq_index(
    spark,
    catalog,
    new_vectors: DataFrame,
    id_col: str = "c_id",
    vec_col: str = "c_vec",
    prefix: str = "pq_index",
) -> None:
    """Incremental index maintenance: encode ONLY the new/changed vectors
    with the STORED codebooks and MERGE into the codes table (updated ids
    replace, new ids append — operators/split.merge_upsert, the same
    full-outer-join algebra table-format MERGE compiles to). The
    codebooks stay fixed — standard practice (re-training invalidates
    every stored code; done as a rebuild, not an upsert).

    Coherent with the STREAMING maintenance path: if committed
    ``<prefix>_code_deltas`` exist (stream_pq_upsert ran under this
    prefix), the merge base is the compacted merge-on-read view — not
    the raw codes table — and the folded delta partitions are RETIRED
    in the commit that swaps the new codes in (markers move to the
    retired ledger, lineage kept).
    Without the fold, a batch upsert of an id previously touched by the
    stream would be silently shadowed by the stale delta on the next
    merge-on-read. A batch upsert therefore doubles as a compaction
    event; a stream resuming afterwards writes fresh deltas over the
    new base (its checkpoint never re-emits retired batches)."""
    from cdrc_semantic_search_spark.operators.split import merge_upsert
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
    )

    books = codebooks_from_df(catalog.read_table(spark, f"{prefix}_codebooks"))
    delta_table = f"{prefix}_code_deltas"
    streamed = catalog.committed_partitions(delta_table)
    if streamed:
        existing = compacted_pq_codes(spark, catalog, prefix)
    else:
        existing = catalog.read_table(spark, f"{prefix}_codes")
    delta = pq_encode(spark, new_vectors, id_col, vec_col, books)
    merged = merge_upsert(existing, delta, [id_col])
    # the merged plan READS the codes table it replaces, which the staged
    # write leaves in place. The folded delta partitions retire in the
    # commit that swaps the new codes in: a crash between the two is
    # finished by the next roll-forward, never left as stale deltas
    # shadowing the upserted ids
    catalog.stage({f"{prefix}_codes": merged})
    catalog.commit(swap=[f"{prefix}_codes"], retire={delta_table: sorted(streamed)})


def topk_pq_adc_index(
    spark,
    queries: DataFrame,
    catalog,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    prefix: str = "pq_index",
) -> DataFrame:
    """ADC top-k against a MATERIALIZED index: reads ``<prefix>_codes``
    and ``<prefix>_codebooks`` from the catalog — the float corpus is
    never opened. Must return exactly what :func:`topk_pq_adc` computes
    from the raw corpus with the same codebooks (pinned by the
    ann_pq_index_roundtrip query sharing ann_pq_topk's oracle).

    If committed streamed code-deltas exist for this prefix, the scan
    reads the compacted merge-on-read view so queries see streamed
    updates — the batch and streaming maintenance paths stay coherent
    under one prefix (pinned in test_streaming)."""
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
    )

    books = codebooks_from_df(catalog.read_table(spark, f"{prefix}_codebooks"))
    if catalog.committed_partitions(f"{prefix}_code_deltas"):
        encoded = compacted_pq_codes(spark, catalog, prefix)
    else:
        encoded = catalog.read_table(spark, f"{prefix}_codes")
    return topk_pq_adc(
        spark, queries, None, books, k,
        q_id=q_id, c_id=c_id, q_vec=q_vec, encoded=encoded,
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    q_label: str = "q_label",
    c_label: str = "c_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus items whose LABEL differs — the negatives
    that actually move a bi-encoder (random negatives are trivially
    separable; the near-miss neighbors define the decision boundary:
    Karpukhin et al., "Dense Passage Retrieval", EMNLP 2020 — public
    literature).

    → (q_id, c_id, score, rank) with rank 1..k by (score desc, c_id
    asc) AMONG the label-mismatched corpus — the label filter applies
    BEFORE ranking (a filter after top-k would under-fill: a query
    whose true top-k are all same-label would get zero negatives).

    Scale shape: identical to :func:`topk_cosine_exact` (broadcast
    query side, two-stage window top-k) with the label-mismatch
    predicate fused into the scored cross join, so mismatched pairs
    never enter the rank windows. For corpora beyond broadcast, the
    IVF/PQ shortlist kernels compose the same way — shortlist, filter
    labels, exact rescore.

    NULL labels are EXCLUDED by design: the ``!=`` mismatch predicate
    is NULL (row dropped) when either side's label is NULL, so a query
    with a NULL label mines zero negatives and NULL-labeled corpus rows
    are never served as negatives. That is the conservative reading —
    an unlabeled row's true class is unknown, so treating it as a
    "definitely different" negative would inject false negatives into
    training. Callers that want unknown-label rows as negatives should
    backfill a sentinel label first.
    """
    taken = {q_id, c_id, q_vec, c_vec, q_label, c_label, "score", "rank"}
    nq = internal_col(taken, "__qnorm")
    nc = internal_col(taken | {nq}, "__cnorm")
    q = queries.select(F.col(q_id), F.col(q_vec), F.col(q_label)).withColumn(
        nq, V.norm(F.col(q_vec))
    )
    c = corpus.select(F.col(c_id), F.col(c_vec), F.col(c_label)).withColumn(
        nc, V.norm(F.col(c_vec))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col(q_label) != F.col(c_label))
        .select(
            q_id,
            c_id,
            (V.dot(F.col(q_vec), F.col(c_vec)) / (F.col(nq) * F.col(nc))).alias(
                "score"
            ),
        )
    )
    return _two_stage_topk(scored, q_id, c_id, k)
