"""Canonicalization: connected components over high-similarity pairs.

The reference groups near-identical chunks under one parent id at query
time (/root/reference/src/model.py:20-23); the KG graft generalizes this
to surface-form canonicalization: mention surfaces whose embeddings are
cosine-similar ≥ τ (candidates via LSH buckets, operators/similarity.py)
are one surface cluster; each cluster gets the lexicographically smallest
member as canonical id.

Both kernels run in a fixed number of Spark jobs, whatever the graph's
diameter (contract-then-finish, Kiveris et al., SoCC 2014):

* :func:`similarity_forest` — one exchange on the LSH ``(band, bucket)``
  tags, then one ``mapInArrow`` pass that scores every bucket's pairs
  with a vectorized left-fold cosine and unions the pairs ≥ τ in a
  per-partition union-find. Each partition emits a spanning forest of
  its τ-graph (≤ |V_p|−1 edges), never the pair list.
* :func:`connected_components` — a map-only per-partition union-find
  contracts each edge partition to a star forest, then ONE task unions
  all the forests with the minimum id as every root. On a similarity
  forest that task holds at most P·(|V|−1) forest edges, P the number
  of input partitions; on raw edges, at most one row per (partition,
  vertex).

The union-find is array-form (:func:`_min_roots`): each sweep hooks every
root to the smallest root across its live edges, pointer-jumps to full
compression and drops edges whose endpoints now share a root. Roots only
ever move to smaller ids, so every component's root is its minimum — the
``component = min reachable id`` contract the DuckDB transitive-closure
oracles check — and vertex order, edge order and partitioning cannot
change the labels. Nothing is cached or checkpointed: both kernels stay
lazy until the caller's action.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from cdrc_semantic_search_spark.functions.names import internal_col
from cdrc_semantic_search_spark.operators.similarity import lsh_assign

#: candidate pairs scored per vectorized sweep: bounds the worker's
#: memory on a hot bucket (three float64 temporaries of this length)
_PAIR_CHUNK = 1 << 20


def _min_roots(u: np.ndarray, v: np.ndarray, parent: np.ndarray) -> np.ndarray:
    """Union edges (u[k], v[k]) into ``parent`` → fully compressed
    parent array whose every root is the smallest vertex index of its
    component. ``parent`` must be compressed on entry (``np.arange`` for
    a fresh forest); it may be modified, so use the returned array."""
    while len(u):
        ru, rv = parent[u], parent[v]
        live = ru != rv
        if not live.any():
            break
        u, v, ru, rv = u[live], v[live], ru[live], rv[live]
        # hook every root to the smallest root it has an edge to; roots
        # strictly decrease, so no cycle can form
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return parent


def _vertex_index(*cols: pa.ChunkedArray) -> tuple[pa.Array, list[np.ndarray]]:
    """Sorted distinct ids over ``cols`` plus each column as int64 indices
    into them, so index order is id order (Arrow sorts strings by UTF-8
    bytes, as Spark's ``min`` does)."""
    chunks = [chunk for c in cols for chunk in c.chunks]
    ids = pc.unique(pa.chunked_array(chunks, cols[0].type))
    ids = ids.take(pc.sort_indices(ids))
    return ids, [
        pc.index_in(c, value_set=ids).to_numpy(zero_copy_only=False).astype(np.int64)
        for c in cols
    ]


def _partition(batches: Iterator[pa.RecordBatch]) -> pa.Table | None:
    """The whole partition as one table, or None when it has no rows."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return None
    return pa.Table.from_batches(batches).combine_chunks()


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """edges(src, dst) → (id, component) where component = min id reachable.

    Vertices = every id appearing in edges, a vertex whose only edge is a
    self-loop included; edges with a NULL endpoint are ignored. ``id``
    and ``component`` take the common type of ``src`` and ``dst``.
    Isolated vertices aren't represented — callers left-join and coalesce
    to the vertex's own id.

    Two stages, whatever the diameter: a map-only ``mapInArrow`` unions
    each partition's edges and emits its star forest (member → local
    minimum, plus a self row for a vertex left alone), then one
    ``repartition(1)`` task unions every forest and labels each vertex
    with its component minimum. The finish holds ≤ one row per (input
    partition, vertex) — P·(|V|−1) on a spanning-forest input.
    """
    a, b = F.col(src), F.col(dst)
    id_type = (
        edges.select(a.alias("id"))
        .unionByName(edges.select(b.alias("id")))
        .schema["id"]
        .dataType
    )
    e = edges.filter(a.isNotNull() & b.isNotNull()).select(
        a.cast(id_type).alias("a"), b.cast(id_type).alias("b")
    )
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )

    def union(batches: Iterator[pa.RecordBatch]):
        t = _partition(batches)
        if t is None:
            return None
        ids, (ia, ib) = _vertex_index(t.column("a"), t.column("b"))
        return ids, _min_roots(ia, ib, np.arange(len(ids)))

    def forest(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if (found := union(batches)) is None:
            return
        ids, root = found
        # members point at their root; a root with no member (a vertex
        # whose only edge is a self-loop) keeps a self row so it survives
        keep = (root != np.arange(len(ids))) | (
            np.bincount(root, minlength=len(ids))[root] == 1
        )
        members = pa.array(np.flatnonzero(keep))
        yield pa.RecordBatch.from_arrays(
            [ids.take(members), ids.take(pa.array(root[keep]))], names=["a", "b"]
        )

    def finish(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if (found := union(batches)) is None:
            return
        ids, root = found
        yield pa.RecordBatch.from_arrays(
            [ids, ids.take(pa.array(root))], names=["id", "component"]
        )

    local = e.mapInArrow(
        forest, StructType([StructField("a", id_type), StructField("b", id_type)])
    )
    return local.repartition(1).mapInArrow(finish, schema=schema)


def _bucket_pairs(
    vidx: np.ndarray,
    band: np.ndarray,
    bucket: np.ndarray,
    lead: np.ndarray | None = None,
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Every (u, v) vertex-index pair sharing a ``(band, bucket)``, in
    chunks of about ``_PAIR_CHUNK`` pairs; a hot bucket is cut into row
    blocks so no chunk grows past the bound. With ``lead`` (a bool per
    vertex), only pairs with at least one lead member: leads sort first
    in each bucket and only their rows pair, so the work is |leads in
    bucket| × |bucket|, never |bucket|²."""
    behind = np.zeros(len(vidx), bool) if lead is None else ~lead[vidx]
    order = np.lexsort((behind, bucket, band))
    cut = np.flatnonzero(
        (np.diff(band[order]) != 0) | (np.diff(bucket[order]) != 0)
    ) + 1
    us: list[np.ndarray] = []
    vs: list[np.ndarray] = []
    size = 0
    for m in np.split(vidx[order], cut):
        k = len(m)
        n_rows = k - 1 if lead is None else min(int(lead[m].sum()), k - 1)
        step = max(1, _PAIR_CHUNK // max(k, 1))
        for lo in range(0, n_rows, step):
            rows = np.arange(lo, min(lo + step, n_rows))
            n_after = k - 1 - rows
            i = np.repeat(rows, n_after)
            # j runs i+1 .. k-1 for each row i of the block
            row_start = np.repeat(np.cumsum(n_after) - n_after, n_after)
            j = np.arange(len(i)) - row_start + i + 1
            us.append(m[i])
            vs.append(m[j])
            size += len(i)
            if size >= _PAIR_CHUNK:
                yield np.concatenate(us), np.concatenate(vs)
                us, vs, size = [], [], 0
    if size:
        yield np.concatenate(us), np.concatenate(vs)


def _fold_cosine_pairs(
    cols: np.ndarray, norms: np.ndarray, u: np.ndarray, v: np.ndarray
) -> np.ndarray:
    """Cosine of vertex pairs (u[k], v[k]) with ``functions/vector.cosine``'s
    exact arithmetic: ``cols`` is the (dim, n) float64 vector matrix,
    the dot is a sequential left fold over dim (one IEEE multiply and
    add per element, no reassociation), ``norms`` the same fold's square
    roots. A zero vector gives NaN, which fails any ``>= τ``."""
    dot = np.zeros(len(u))
    for col in cols:
        dot += col[u] * col[v]
    denom = norms[u] * norms[v]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, np.nan, dot / denom)


def _fold_norms(cols: np.ndarray) -> np.ndarray:
    """sqrt of each column vector's left-fold sum of squares (float64)."""
    sq = np.zeros(cols.shape[1])
    for col in cols:
        sq += col * col
    return np.sqrt(sq)


def similarity_forest(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    seed: int = 42,
    n_planes: int = 16,
    n_bands: int = 4,
    new_col: str | None = None,
) -> DataFrame:
    """→ (id_a, id_b) spanning-forest edges of the τ-graph: rows whose
    embeddings share an LSH ``(band, bucket)`` and reach cosine ≥
    ``threshold``. Its components are exactly those of
    :func:`~cdrc_semantic_search_spark.operators.similarity.cosine_pairs_lsh`
    (same planes, bands and exact re-check arithmetic), in far fewer
    rows: each partition emits star edges (local minimum id, member), at
    most |V_p|−1 of them.

    One exchange and one Arrow pass: ``lsh_assign`` tags each row once
    per band and keeps the vector, ``repartition("band", "bucket")``
    co-locates every bucket, and a ``mapInArrow`` scores each bucket's
    pairs with the vectorized fold cosine (bit-identical to
    ``functions/vector.cosine``), skipping pairs whose endpoints are
    already joined, and unions the survivors in a per-partition
    union-find.

    With ``new_col`` (a boolean column), only pairs touching a row where
    it is true are generated and scored (per-bucket work |new| ×
    |bucket|): the delta edges that :func:`incremental_components`
    folds into converged labels of the old rows.

    Bucket space sizing and NULL vectors follow ``lsh_assign``: NULL
    vectors are dropped, and pair work is quadratic in the bucket, so
    pick n_planes/n_bands as :func:`canonicalize_embedded` describes.
    NULL ids are dropped too.

    Every column of ``df`` rides into the bucket exchange, unread, so
    column pruning leaves the plan below ``df`` as the caller built it: a
    caller that reads ``df`` again (``canonicalize_embedded`` joins its
    payload back) shares that plan's exchanges with this branch instead
    of computing a pruned twin of them. Drop a wide column you do not
    read again before calling.
    """
    tagged = lsh_assign(df, vec_col, dim, n_planes, n_bands, seed)
    id_type = df.schema[id_col].dataType
    schema = StructType([StructField("id_a", id_type), StructField("id_b", id_type)])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t = _partition(batches)
        # NULL ids are dropped here, not by a filter the optimizer would
        # push below the caller's aggregation (and out of the plan it
        # shares)
        t = None if t is None else t.filter(pc.is_valid(t.column(id_col)))
        if t is None or not t.num_rows:
            return
        ids, (vidx,) = _vertex_index(t.column(id_col))
        # one row per vertex: the first of its (one per band) tag rows
        first = np.unique(vidx, return_index=True)[1]
        vecs = pc.list_flatten(t.column(vec_col)).to_numpy()
        if len(vecs) != t.num_rows * dim:
            raise ValueError(f"every {vec_col} vector must have length dim={dim}")
        cols = vecs.reshape(-1, dim)[first].astype(np.float64).T.copy()
        norms = _fold_norms(cols)
        is_new = (
            t.column(new_col).to_numpy(zero_copy_only=False)[first].astype(bool)
            if new_col
            else None
        )
        parent = np.arange(len(ids))
        for u, v in _bucket_pairs(
            vidx, t.column("band").to_numpy(), t.column("bucket").to_numpy(), is_new
        ):
            keep = parent[u] != parent[v]
            u, v = u[keep], v[keep]
            hit = _fold_cosine_pairs(cols, norms, u, v) >= threshold
            parent = _min_roots(u[hit], v[hit], parent)
        member = np.flatnonzero(parent != np.arange(len(ids)))
        if len(member):
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(parent[member])), ids.take(pa.array(member))],
                names=["id_a", "id_b"],
            )

    return tagged.repartition("band", "bucket").mapInArrow(run, schema=schema)


def canonicalize_embedded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    seed: int = 42,
    n_planes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """→ (id, canonical_id, *other columns): cluster rows whose
    embeddings reach cosine ≥ threshold through any path; canonical = min
    id in the component. Every column of ``df`` but the id and the
    vector rides along, so a caller gets its payload back without a
    second join (and a second scan) of the input.

    SIZE THE BUCKET SPACE TO THE CORPUS: each band hashes to
    2^(n_planes/n_bands) buckets, and candidate generation is quadratic
    IN THE BUCKET. The 16/4 default (16 buckets per band) is right for
    thousands of rows; at N rows pick n_planes/n_bands ≳ log2(N/target)
    so buckets hold ~target (tens) of rows — e.g. 48/4 (4096 buckets)
    at 10^5, 96/4 at 10^8. More planes per band also lowers per-band
    recall for borderline pairs (p^(planes/band)); compensate with more
    bands if the threshold is loose (scripts/inc_canon_bench.py runs
    40k+ surfaces at 48/4).
    """
    comp = connected_components(
        similarity_forest(
            df, id_col, vec_col, dim, threshold, seed=seed,
            n_planes=n_planes, n_bands=n_bands,
        )
    )
    rest = [c for c in df.columns if c not in (id_col, vec_col)]
    cid = internal_col(df.columns, "__cc_id")
    cc = internal_col(df.columns, "__cc_component")
    comp = comp.select(F.col("id").alias(cid), F.col("component").alias(cc))
    return df.join(comp, F.col(id_col) == F.col(cid), "left").select(
        F.col(id_col).alias("id"),
        F.coalesce(cc, id_col).alias("canonical_id"),
        *rest,
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Fold a batch of NEW edges into CONVERGED labels without touching
    the full graph — the canonicalization-maintenance kernel: at 10^12
    mentions the component labels are a materialized table and each new
    micro-batch of high-similarity pairs must update it in time
    proportional to the BATCH, not the graph.

    Exactness: full-rebuild labels assign component = min reachable id.
    Converged labels are already component minima, so contracting every
    new edge through the old labels (unknown endpoints label themselves)
    yields a component-level graph whose CC minima equal the true minima
    over the unioned edge set — ``incremental_components(cc(E1), E2) ≡
    cc(E1 ∪ E2)``, pinned in tests against randomized graphs. Only the
    new edges' connectivity matters, so a spanning forest of them
    (:func:`similarity_forest` with ``new_col``) gives the same labels
    as the full pair list.

    100-TB shape: the contracted graph has O(|new_edges|) edges —
    :func:`connected_components` runs on that, never on the full graph.
    The label patch is one equi-join of the big labels table against the
    contracted mapping (≤ 2·|new_edges| rows — AQE broadcasts it, so the
    labels table never shuffles); new vertices union in. No stage's cost
    grows with |old graph| except the map-only patch scan itself.

    ``labels`` must be converged (id, component) output of
    :func:`connected_components` / this function — feeding unconverged
    labels breaks the minima-contraction argument.

    Storage boundary between generations: pass ``labels`` read back from
    a TABLE (as the catalog compaction path does), not a chain of
    in-memory local checkpoints. A Spark local checkpoint preserves the
    child plan's sizeInBytes into the LogicalRDD, so repeated
    checkpoint→join→checkpoint generations compound Catalyst's BigInt
    size estimate exponentially until query PLANNING (bignum
    multiplication inside the stats visitor) dominates wall time; a
    parquet scan resets the estimate to file size. Measured in
    scripts/inc_canon_bench.py (a 3-generation in-memory chain stalled
    planning for minutes; the table round-trip is flat).
    """
    e = new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    ca = labels.select(F.col("id").alias("a"), F.col("component").alias("ca"))
    cb = labels.select(F.col("id").alias("b"), F.col("component").alias("cb"))
    contracted = (
        e.join(ca, "a", "left")
        .join(cb, "b", "left")
        .select(
            F.coalesce("ca", "a").alias("id_a"),
            F.coalesce("cb", "b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    mapping = connected_components(contracted).select(
        F.col("id").alias("old_label"), F.col("component").alias("merged")
    )

    patched = (
        labels.join(mapping, labels["component"] == mapping["old_label"], "left")
        .select(
            "id",
            F.coalesce("merged", "component").alias("component"),
        )
    )
    new_vertices = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
    )
    new_labels = new_vertices.join(
        mapping, new_vertices["id"] == mapping["old_label"], "left"
    ).select(
        "id",
        # a new vertex with only self-loop / intra-batch-redundant edges
        # never reaches the contracted graph: it is its own component
        F.coalesce("merged", "id").alias("component"),
    )
    return patched.unionByName(new_labels)


def clustering_pair_quality(
    df: DataFrame,
    item_col: str = "surface",
    cluster_col: str = "canonical_surface",
    label_col: str = "entity_id",
) -> DataFrame:
    """Pair-counting quality of a clustering against gold labels — the
    canonicalization-evaluation operator behind the north rule's
    "P/R ≥ 0.95 vs reference" framing: given (item, predicted cluster,
    gold label) rows, score how well the clusters reproduce the gold
    partition over the item PAIRS.

        tp_pairs   = pairs sharing BOTH cluster and gold label
        pred_pairs = pairs sharing a cluster
        gold_pairs = pairs sharing a gold label
        precision  = tp/pred, recall = tp/gold (Rand-style pair P/R)

    One row out: (n_items, tp_pairs, pred_pairs, gold_pairs, precision,
    recall). Counts are INTEGER-exact (sums of C(n,2) terms — no float
    accumulation in the hashable core); precision/recall are a single
    IEEE division of those integers, identical on every engine.

    Contract: one row per item (the shape :meth:`KGPipeline.
    surface_clusters` emits); rows with a NULL gold label (unlinked
    surfaces — no gold class) are excluded from the universe.

    100-TB shape: one exchange on (cluster, label) with map-side
    combine; cluster/label marginals re-aggregate the contingency
    counts (already collapsed to the number of DISTINCT (cluster,
    label) cells, ≪ items); the three 1-row totals meet in broadcast
    cross joins. Nothing is ever quadratic in items — C(n,2) is
    arithmetic on counts, never a pair join.

    Reference anchor: the reference evaluates retrieval quality by
    comparing grouped chunk parents against expected groupings
    (/root/reference/src/evaluation.py:29-38); this is that check as a
    distributed operator.
    """
    base = df.filter(F.col(label_col).isNotNull()).select(
        F.col(item_col).alias("item"),
        F.col(cluster_col).alias("cluster"),
        F.col(label_col).alias("label"),
    )
    cg = base.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_cg")
    )

    def _pairs(n):
        return (n * (n - F.lit(1))) / F.lit(2)

    tp = cg.agg(
        F.sum(_pairs(F.col("n_cg"))).cast("long").alias("tp_pairs"),
        F.sum("n_cg").cast("long").alias("n_items"),
    )
    pred = (
        cg.groupBy("cluster")
        .agg(F.sum("n_cg").alias("n_c"))
        .agg(F.sum(_pairs(F.col("n_c"))).cast("long").alias("pred_pairs"))
    )
    gold = (
        cg.groupBy("label")
        .agg(F.sum("n_cg").alias("n_g"))
        .agg(F.sum(_pairs(F.col("n_g"))).cast("long").alias("gold_pairs"))
    )
    out = tp.crossJoin(F.broadcast(pred)).crossJoin(F.broadcast(gold))
    return out.select(
        "n_items",
        "tp_pairs",
        "pred_pairs",
        "gold_pairs",
        F.when(
            F.col("pred_pairs") > 0,
            F.round(F.col("tp_pairs") / F.col("pred_pairs"), 6),
        ).alias("precision"),
        F.when(
            F.col("gold_pairs") > 0,
            F.round(F.col("tp_pairs") / F.col("gold_pairs"), 6),
        ).alias("recall"),
    )
