"""Graph analytics over materialized KG edge tables.

The pipeline's kg_edges output (plans/kg_pipeline.kg_edges) is a weighted
entity graph; ranking its nodes is the classic downstream consumer
(entity importance for canonicalization tie-breaks, curation boosts).
Connected components lives in operators/canonicalize; this module adds
fixed-iteration PageRank.

100-TB shape per iteration: one equi-join of the (static, persisted)
out-degree-annotated edge list with the current rank vector, one
map-side-combined sum per destination, one broadcast-size rank update —
no all-pairs anything; ``localCheckpoint`` truncates lineage so iteration
N never re-optimizes 1..N-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.functions.observe import unique_observation

#: label_propagation lineage-truncation cadence (checkpoint every K
#: rounds). 1 = every round — measured strictly fastest (see the A/B
#: note in label_propagation); the knob exists so the cadence stays
#: one-line re-measurable. Results are identical at any K — only the
#: barrier count and recompute shape change.
_CHECKPOINT_EVERY = 1


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected graph → 1 row (n_triangles).

    Edges are normalized to one row per undirected edge, then ORIENTED
    low-(degree, id) → high-(degree, id); each triangle is found exactly
    once as a wedge from its smallest endpoint closed by the directed
    edge between the other two. Degree orientation (not id order) bounds
    every vertex's out-degree by O(√m): a hub with a million neighbors
    points all its edges INWARD, so the wedge self-join fans out from
    the low-degree leaves instead of exploding quadratically on the hub —
    the standard trick that makes distributed triangle counting survive
    power-law graphs. The count itself is orientation-invariant, so the
    SQL oracle (plain a<b ordering) matches bit-for-bit.

    Plan: one degree aggregation, two broadcast-size joins to annotate
    endpoints, one wedge self-join on the source vertex, one closure
    equi-join — no cross product anywhere.
    """
    # persist both shared frames: und feeds the degree union twice plus
    # the orientation join, deg projects into two join branches — Spark
    # does not share subtrees, so without the persists the distinct
    # shuffle and degree aggregation recompute per branch
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = F.struct(F.col("deg_a"), F.col("a")) < F.struct(
        F.col("deg_b"), F.col("b")
    )
    # directed u→v with v's order key carried for the wedge ordering below;
    # persist: three plan branches (two wedge sides + closure) reuse it
    d = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("v_deg"),
        )
        .persist()
    )
    w1 = d.select("u", "v", "v_deg")
    w2 = d.select(F.col("u"), F.col("v").alias("w"), F.col("v_deg").alias("w_deg"))
    wedges = w1.join(w2, "u").filter(
        F.struct(F.col("v_deg"), F.col("v")) < F.struct(F.col("w_deg"), F.col("w"))
    )
    closure = d.select(F.col("u").alias("v"), F.col("v").alias("w"))
    closed = wedges.join(closure, ["v", "w"])
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def build_pagerank_fanout(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """The static per-run input of :func:`pagerank_fixed`: normalized
    edges annotated with their source's total outgoing strength →
    (src, dst, w, strength).

    Returned UNMATERIALIZED so the caller picks the storage that fits the
    scale: ``.persist()`` for a cache-sized graph (what pagerank_fixed
    does internally), or — at 100 TB, where executor storage cannot hold
    the edge list — written ONCE as a table bucketed by ``src``
    (``.write.bucketBy(n, "src").sortBy("src").saveAsTable(...)``) and
    passed back via ``pagerank_fixed(fanout=spark.table(...))``: every
    iteration's fanout⋈ranks join then reads the buckets in place and
    only the (|V|-sized) rank vector shuffles, instead of re-exchanging
    the (|E|-sized) edge side per iteration. The same bucketed layout is
    reusable across runs and by any src-keyed consumer.
    """
    if weight:
        e = (
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight).cast("double").alias("w"),
            )
            .filter(F.col("w") > 0)  # NULL/non-positive weights carry no mass
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))  # duplicate edges sum their weights
        )
    else:
        e = (
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .withColumn("w", F.lit(1.0))  # duplicate edges collapse to one
        )
    deg = e.groupBy("src").agg(F.sum("w").alias("strength"))
    return e.join(deg, "src")


def pagerank_fixed(
    edges: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
    weight: str | None = None,
    fanout: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration simplified PageRank → (id, rank).

    rank_{t+1}(v) = (1-d)/N + d · Σ_{u→v} rank_t(u)/outdeg(u)

    With ``weight`` (e.g. kg_edges' ``weight`` column), each edge carries
    w/strength(u) of u's rank instead of 1/outdeg(u) — strength = sum of
    u's outgoing weights. Edges with NULL or non-positive weight are
    DROPPED up front (they carry no mass, and a vertex with only such
    edges leaves the graph entirely) — this also guarantees strength > 0,
    so the division can never hit ANSI DIVIDE_BY_ZERO. Same plan shape;
    only the per-edge fraction changes.

    Simplified = dangling mass leaks (no redistribution term): the update
    is a pure join+sum, identical in any SQL engine, so a DuckDB oracle
    can reproduce it bit-for-bit-modulo-1e-15 (ROUND(,6) absorbs the
    summation-order drift). Fixed iteration count keeps it deterministic;
    production runs to an L1 convergence threshold instead.

    ``N`` (vertex count) is a driver-side scalar — one cheap distinct
    count over ids, the same class of action as IVF's centroid sample.

    ``fanout``: a pre-built :func:`build_pagerank_fanout` frame — pass a
    bucketed-by-src table here at scales where the edge list cannot live
    in executor storage (see build_pagerank_fanout's docstring); storage
    is then entirely the caller's, nothing is persisted here. Mutually
    exclusive with ``edges``.
    """
    if (edges is None) == (fanout is None):
        raise ValueError("pass exactly one of edges or fanout")
    own_cache = None
    if fanout is not None:
        fanout = fanout.select("src", "dst", "w", "strength")
    else:
        # built here → cache it: every iteration re-reads it (released in
        # the finally — the returned ranks are checkpointed, so they
        # never re-read the cache)
        fanout = build_pagerank_fanout(edges, src, dst, weight).persist()
        own_cache = fanout
    try:
        v = (
            fanout.select(F.col("src").alias("id"))
            .unionByName(fanout.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint()
        )
        n = v.count()
        base = (1.0 - damping) / n
        ranks = v.withColumn("rank", F.lit(1.0 / n))
        for _ in range(n_iter):
            contrib = (
                fanout.join(ranks, fanout["src"] == ranks["id"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("rank") * F.col("w") / F.col("strength")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            ranks = v.join(contrib, "id", "left").select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            ranks = ranks.localCheckpoint()
        return ranks
    finally:
        if own_cache is not None:
            own_cache.unpersist()


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Unweighted shortest-path distances from a source set over an
    UNDIRECTED graph → (id, dist), dist ∈ [0, max_depth]; unreachable
    vertices are absent.

    Frontier-expansion BFS (the Pregel pattern on DataFrames): each round
    joins the current frontier against the (static, persisted)
    symmetrized edge list, anti-joins the visited set, and checkpoints —
    one key-partitioned join + one anti-join per round, never a full
    transitive closure.  Rounds = graph diameter (bounded by
    ``max_depth``), with early exit when a frontier empties.

    ``sources`` is a one-column DataFrame of start vertex ids named
    ``id``.  Cross-checked by a DuckDB recursive-CTE oracle
    (graph_bfs_distances query).

    DEPTH COST (shared by every peel/frontier operator here — see also
    :func:`topo_layers`, :func:`strongly_connected_components`): the
    loop is depth-SEQUENTIAL and re-materializes the accumulated visited
    set each round via localCheckpoint, so total materialized bytes are
    O(depth · |reached vertices|) and wall time is rounds × (join +
    barrier). Fine for the small-world graphs KG/entity work produces
    (diameter ≲ 20); a 10⁴-deep path graph would crawl and blow
    ``max_depth`` long before. For deep chains use a pointer-doubling
    formulation (connected_components' union-find for undirected reachability,
    :func:`tree_depth_doubling` for single-parent depth/layering) —
    O(log depth) rounds at O(|V|·log depth) total join work.
    """
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    # normalize (one pass over the caller's edge plan) THEN symmetrize
    # from the persisted normal form — a union of two selects of the raw
    # input would execute the caller's plan twice (no subtree sharing)
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    visited = (
        sources.select(F.col("id"), F.lit(0).alias("dist")).distinct().localCheckpoint()
    )
    frontier = visited.select("id")
    try:
        for d in range(1, max_depth + 1):
            nxt = (
                frontier.join(sym, frontier["id"] == sym["u"])
                .select(F.col("v").alias("id"))
                .distinct()
                .join(visited.select("id"), "id", "left_anti")
                .select("id", F.lit(d).alias("dist"))
                .localCheckpoint()
            )
            if nxt.rdd.isEmpty():
                break
            visited = visited.union(nxt).localCheckpoint()
            frontier = nxt.select("id")
    finally:
        und.unpersist()
    return visited


def link_prediction_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int | None = 10_000,
    cache_handle: list | None = None,
) -> DataFrame:
    """Link-prediction feature scores for NON-adjacent vertex pairs that
    share ≥1 neighbor → (v, w, common_cnt, jaccard, adamic_adar), v < w.

    The KG consumer: rank candidate entity-entity edges the extractor has
    NOT yet observed (common_cnt = co-occurrence through shared partners,
    Adamic-Adar down-weights promiscuous hubs) — the classic "suggest a
    missing relation" stage after graph materialization.

    Plan: one wedge self-join on the shared-neighbor CENTER vertex, one
    aggregation per candidate pair, one anti-join against the existing
    edge set, two broadcast-size degree annotations. Every operation is
    key-partitioned; nothing is all-pairs.

    Scale note: a center of degree d yields C(d,2) wedge rows, so hub
    centers dominate the join fan-out (the same skew triangle counting
    dodges by orientation — unavailable here because BOTH wedge endpoints
    must survive for every pair). The standard mitigation at 100 TB is
    ``max_center_degree``: drop centers above a cap before the self-join.
    A hub shared by everything contributes ≈0 Adamic-Adar weight
    (1/ln d → 0) and inflates every pair's common_cnt equally, so capping
    changes rankings far less than it cuts cost. Default 10k (bounds a
    single center's wedge fan-out at ~5·10⁷ rows); ``None`` is the
    explicit opt-out that makes the result exact. Dropped wedge-endpoint
    rows are observed on the first action and logged lazily — the cap is
    never silent and never adds an eager job.

    Persists two internal frames (normalized edges, degrees) that feed
    multiple plan branches; pass ``cache_handle`` (a list) to receive
    them and unpersist deterministically once the result is consumed —
    otherwise they live until the ContextCleaner collects them.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("n")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("n"))
    )
    # degree of every vertex (also the center weight for Adamic-Adar)
    deg = sym.groupBy(F.col("u").alias("v")).agg(F.count(F.lit(1)).alias("deg")).persist()
    if cache_handle is not None:
        cache_handle.extend([und, deg])
    # one deg join annotates c_deg; the degree cap is then a filter on it
    # (a separate semi-join against the capped set would pay a second
    # exchange of the |2E|-row centers frame for nothing)
    centers = sym.select(F.col("n").alias("c"), F.col("u").alias("e")).join(
        deg.select(F.col("v").alias("c"), F.col("deg").alias("c_deg")), "c"
    )
    if max_center_degree is not None:
        from cdrc_semantic_search_spark.functions.observe import (
            drop_observation,
            log_dropped_on_first_action,
        )

        obs = drop_observation("link_prediction_scores")
        centers = centers.observe(
            obs, F.count_if(F.col("c_deg") > max_center_degree).alias("dropped")
        )
        log_dropped_on_first_action(
            obs, "link_prediction_scores", max_center_degree,
            "hub-center wedge rows",
        )
        centers = centers.filter(F.col("c_deg") <= max_center_degree)
    s1 = centers.select("c", F.col("e").alias("v"), "c_deg")
    s2 = centers.select("c", F.col("e").alias("w"))
    pairs = (
        s1.join(s2, "c")
        .filter(F.col("v") < F.col("w"))
        .groupBy("v", "w")
        .agg(
            F.count(F.lit(1)).alias("common_cnt"),
            F.sum(F.lit(1.0) / F.log(F.col("c_deg").cast("double"))).alias(
                "adamic_adar"
            ),
        )
    )
    # link prediction scores only pairs NOT already connected
    pairs = pairs.join(
        und.select(F.col("a").alias("v"), F.col("b").alias("w")),
        ["v", "w"],
        "left_anti",
    )
    dv = deg.select(F.col("v"), F.col("deg").alias("deg_v"))
    dw = deg.select(F.col("v").alias("w"), F.col("deg").alias("deg_w"))
    return (
        pairs.join(dv, "v")
        .join(dw, "w")
        .select(
            "v",
            "w",
            "common_cnt",
            (
                F.col("common_cnt")
                / (F.col("deg_v") + F.col("deg_w") - F.col("common_cnt"))
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration personalized PageRank (random walk with restart to
    a SEED set) → (id, rank).

    rank_{t+1}(v) = (1-d)·s(v) + d · Σ_{u→v} rank_t(u)/outdeg(u),
    s(v) = 1/|S| for seed vertices, else 0; rank_0 = s.

    The KG consumer: relatedness of every entity to a query entity set
    (seeded at the linked mentions of one conversation, PPR ranks the
    entities most relevant to it — the standard graph-expansion retrieval
    step). Same per-iteration plan shape as :func:`pagerank_fixed` — one
    key-partitioned join of the persisted out-degree-annotated edge list
    with the current rank vector, one map-side-combined sum, one
    broadcast-size restart add — with the restart vector a LEFT join
    against the (tiny, broadcast) seed set instead of a global constant.
    Dangling mass leaks, as in pagerank_fixed, so a chained-CTE DuckDB
    oracle reproduces it exactly (modulo 1e-15 → ROUND(,6)).

    ``seeds`` is a one-column DataFrame ``id``; seeds absent from the
    graph still restart mass onto themselves (they are added to the
    vertex set), matching the walk-with-restart definition.
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    s = seeds.select(F.col("id")).distinct().persist()
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError("seeds must contain at least one vertex")
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .unionByName(s.select("id"))
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))
    fanout = e.join(deg, "src").persist()
    restart = v.join(
        F.broadcast(s.withColumn("is_seed", F.lit(True))), "id", "left"
    ).select(
        "id",
        F.when(F.col("is_seed"), F.lit(1.0 / n_seeds))
        .otherwise(F.lit(0.0))
        .alias("s"),
    ).persist()
    try:
        ranks = restart.select("id", F.col("s").alias("rank")).localCheckpoint()
        for _ in range(n_iter):
            contrib = (
                fanout.join(ranks, fanout["src"] == ranks["id"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("rank") / F.col("outdeg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            ranks = restart.join(contrib, "id", "left").select(
                "id",
                (
                    (1.0 - damping) * F.col("s")
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            ranks = ranks.localCheckpoint()
        return ranks
    finally:
        # returned ranks are checkpointed — the caches are safe to drop
        restart.unpersist()
        fanout.unpersist()
        s.unpersist()


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """Maximal k-core of an undirected graph → (id, core_deg): the
    largest vertex subset in which every member keeps ≥ k neighbours
    INSIDE the subset, with each survivor's within-core degree.

    The KG consumer: densely-corroborated entity subgraphs — peeling
    weakly-connected entities (extraction noise, one-off mentions) until
    only mutually-reinforcing structure remains, the graph analogue of a
    frequency floor.

    Iterative peeling to fixpoint: each round semi-joins the symmetrized
    edge list to the surviving vertex set on BOTH endpoints, recomputes
    degrees (one map-side-combined count), and drops vertices below k.
    Rounds = peeling depth (bounded by the degeneracy ordering length,
    typically ≪ |V|); each round is two key-partitioned joins + one
    aggregation, checkpointed so round N never re-optimizes 1..N-1.
    The convergence probe rides the checkpoint action's count — no extra
    job.  An early exit on ``max_rounds`` cannot return a wrong answer
    silently — it raises.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("n")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("n"))
    ).persist()
    alive = sym.select(F.col("u").alias("id")).distinct().localCheckpoint()
    n_alive = alive.count()
    try:
        for _ in range(max_rounds):
            deg = (
                sym.join(alive.withColumnRenamed("id", "u"), "u")
                .join(alive.withColumnRenamed("id", "n"), "n")
                .groupBy("u")
                .agg(F.count(F.lit(1)).alias("core_deg"))
            )
            survivors = (
                deg.filter(F.col("core_deg") >= k)
                .select(F.col("u").alias("id"), "core_deg")
                .localCheckpoint()
            )
            n_next = survivors.count()
            if n_next == n_alive:
                return survivors.select("id", F.col("core_deg").cast("long"))
            alive = survivors.select("id")
            n_alive = n_next
            if n_alive == 0:
                return survivors.select("id", F.col("core_deg").cast("long"))
        raise RuntimeError(
            f"k_core did not converge within {max_rounds} rounds"
        )
    finally:
        sym.unpersist()
        und.unpersist()


def negative_sample_edges(
    edges: DataFrame,
    entities: DataFrame,
    k: int = 2,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training →
    (subj_entity_id, pred, obj_entity_id, neg_idx): for every positive
    edge, up to ``k`` corrupted tail entities, md5-picked from the entity
    dim and filtered against the positive set (TransE-style corruption).

    ``entities`` must carry (idx, entity_id) with idx a dense 0..n-1
    numbering (the caller fixes the ordering — sorting by entity_id makes
    the sample a pure function of the edge key). Candidates that hit the
    true tail, the head itself, or ANY positive edge are dropped, not
    resampled — the yield per edge is ≤ k and the caller sees exactly
    which slots survived (neg_idx), keeping the output reproducible on
    any engine (md5 is portable; a rand()-based sampler is neither
    stable across partitionings nor auditable).

    Plan: explode k slots per edge (map-side), one BROADCAST join against
    the entity dim (it is the small side by construction), then one
    anti-join against the positive edge set — both sides of which are
    edge-sized, so it shuffles on (subj, pred, neg_obj); Catalyst/AQE
    still picks broadcast when the positives fit under the threshold
    (the fixture case), but nothing here forces a fact-sized broadcast
    through the driver.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    n = entities.count()
    if n == 0:
        raise ValueError("entities must not be empty")
    slots = edges.select(
        "subj_entity_id",
        "pred",
        "obj_entity_id",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("neg_idx"),
    )
    digest = F.md5(
        F.concat(
            F.lit(salt),
            F.col("neg_idx").cast("string"),
            F.lit("|"),
            F.col("subj_entity_id"),
            F.lit("|"),
            F.col("pred"),
            F.lit("|"),
            F.col("obj_entity_id"),
        )
    )
    cand = slots.withColumn(
        "cand_idx",
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % n,
    )
    picked = (
        cand.join(
            F.broadcast(
                entities.select(
                    F.col("idx").alias("cand_idx"),
                    F.col("entity_id").alias("neg_obj"),
                )
            ),
            "cand_idx",
        )
        .filter(
            (F.col("neg_obj") != F.col("obj_entity_id"))
            & (F.col("neg_obj") != F.col("subj_entity_id"))
        )
    )
    positives = edges.select(
        "subj_entity_id", "pred", F.col("obj_entity_id").alias("neg_obj")
    )
    # no broadcast hint: positives are edge-sized — forcing them through
    # the driver would OOM at real scale; the optimizer broadcasts small
    # positive sets on its own
    return (
        picked.join(
            positives, ["subj_entity_id", "pred", "neg_obj"], "left_anti"
        )
        .select(
            "subj_entity_id",
            "pred",
            F.col("neg_obj").alias("obj_entity_id"),
            "neg_idx",
        )
    )


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    n_rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Fixed-round Bellman-Ford single-source shortest paths over a
    DIRECTED weighted graph → (id, dist); vertices unreached within
    ``n_rounds`` hops are absent.

    dist_{t+1}(v) = min(dist_t(v), min_{u→v}(dist_t(u) + w(u,v)))

    The weighted companion of :func:`bfs_distances` (edge weights =
    kg_edges' inverse corroboration, hop costs, latencies). Per round:
    one key-partitioned join of the (static, persisted) edge list with
    the current frontier distances, one map-side-combined MIN per
    destination, one union+MIN merge — checkpointed, the same lineage
    discipline as every iterative operator here. Rounds bound the hop
    count (Bellman-Ford's defining property), so the result is
    deterministic even before convergence; run rounds ≥ graph diameter
    for the fixpoint. Non-positive weights are rejected (negative
    cycles would make fixed-round results meaningless).

    Exactness: each distance is one specific left-to-right sum of edge
    weights along one path, and MIN compares exact doubles — identical
    in any engine, so an unrolled-CTE SQL oracle matches bit-for-bit.
    """
    if n_rounds < 0:
        raise ValueError("n_rounds must be >= 0")
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("double").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: cheapest wins
        .persist()
    )
    try:
        if e.filter(F.col("w") <= 0).limit(1).count() > 0:
            raise ValueError("sssp_weighted requires strictly positive weights")
        dist = (
            sources.select(F.col("id"))
            .distinct()
            .withColumn("dist", F.lit(0.0))
            .localCheckpoint()
        )
        for _ in range(n_rounds):
            relaxed = (
                e.join(dist, e["src"] == dist["id"])
                .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            )
            dist = (
                dist.unionByName(relaxed)
                .groupBy("id")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint()
            )
        return dist
    finally:
        e.unpersist()


def _propagate_min(
    edges: DataFrame, verts: DataFrame, max_iter: int
) -> DataFrame:
    """Directed min-label flood: m(v) = min id over {v} ∪ ancestors(v),
    where ancestors follow edges (a, b) from a to b. Per round, each
    vertex takes the min of its label, its in-neighbors' labels, and a
    pointer jump through its current label (m(v) is an ancestor-or-self
    id, so ancestors-of-m(v) are ancestors of v — the jump is valid and
    cuts rounds to O(log diameter)). Observation rides the checkpoint:
    zero extra convergence jobs."""
    lab = verts.select("id", F.col("id").alias("m")).localCheckpoint()
    for _ in range(max_iter):
        la = lab.select(F.col("id").alias("a"), F.col("m").alias("ma"))
        inbound = (
            edges.join(la, "a")
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("ma").alias("nb"))
        )
        jump = lab.select(F.col("id").alias("m"), F.col("m").alias("mm"))
        upd = (
            lab.join(inbound, "id", "left")
            .join(jump, "m", "left")
            .select(
                "id",
                F.col("m").alias("old"),
                F.least(
                    F.col("m"),
                    F.coalesce("nb", F.col("m")),
                    F.coalesce("mm", F.col("m")),
                ).alias("m"),
            )
        )
        obs = unique_observation("scc-flood")
        nxt = (
            upd.select(
                "id", "m", (F.col("m") != F.col("old")).cast("int").alias("__chg")
            )
            .observe(obs, F.sum("__chg").alias("chg"))
            .localCheckpoint()
        )
        lab = nxt.drop("__chg")
        if (obs.get["chg"] or 0) == 0:
            return lab
    raise RuntimeError(
        f"min-label flood did not converge in {max_iter} rounds"
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 20,
    max_inner: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Directed edges (src, dst) → (id, scc_id): strongly connected
    components, scc_id = min vertex id in the component. The cycle-
    structure analysis of a directed KG (e.g. `derived_from` chains that
    loop indicate canonicalization or provenance errors).

    Min-label coloring with forward/backward agreement (the distributed
    FB-trim family): per outer round compute FWD(v) = min over
    ancestors∪self and BWD(v) = min over descendants∪self (two min-label
    floods, O(log diameter) rounds each via pointer jumping). Vertices
    with FWD(v) == BWD(v) == m are settled into SCC(m) — m reaches v AND
    v reaches m. The SCC of the globally smallest remaining id always
    settles (its members see exactly m on both sides), so every round
    retires at least one component; settled vertices and their edges
    leave the graph and the remainder iterates.

    100-TB shape: each flood round is one edge⋈label equi-join + one
    dst-keyed min groupBy (map-side partials absorb hub skew) + a label-sized
    update join; localCheckpoint truncates lineage every round. Rounds
    scale with log(diameter) × SCC-condensation nesting depth, not
    graph size.

    DEPTH COST: the TRIM loop inside each outer round is a sequential
    peel — every trim round re-materializes the remaining edge set, so a
    trim that peels a depth-D acyclic chain one layer at a time
    materializes O(D · |E|) bytes total (same bound as
    :func:`topo_layers`; see :func:`bfs_distances` for the family-wide
    note). The floods themselves are pointer-jumped (O(log diameter)
    rounds) and are NOT depth-bound. Deep acyclic provenance chains are
    better handled by running :func:`tree_depth_doubling` /
    connected-components reachability first and reserving SCC for the
    (small) cyclic residue.

    Exact oracle: DuckDB mutual-reachability classes (graph_scc).
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # vertex universe from the UNFILTERED edges: a vertex whose only edge
    # is a self-loop is still a (singleton) SCC — dropping it would lose
    # exactly the provenance loop topo_layers routes here for diagnosis.
    # The self-loop edge itself is irrelevant to the partition and is
    # filtered; the vertex then has no edges and trim settles it.
    verts = (
        raw.select(F.col("a").alias("id"))
        .unionByName(raw.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    e = raw.filter(F.col("a") != F.col("b")).distinct().localCheckpoint()
    settled: DataFrame | None = None
    rounds = 0
    cur_e, cur_v = e, verts
    cur_rev = e  # recomputed from cur_e before every flood
    for _ in range(max_outer):
        # TRIM: a vertex with no remaining in-edges or no remaining
        # out-edges cannot sit on a cycle — it is its own SCC. Peel such
        # vertices in bulk until none remain; acyclic regions (the common
        # shape of provenance graphs) vanish here without ever paying a
        # flood, leaving only cyclic cores for the FB rounds. Each peel
        # is two semi-joins — no flood, no groupBy.
        while not cur_v.isEmpty():
            core = (
                cur_v.join(
                    cur_e.select(F.col("b").alias("id")), "id", "left_semi"
                )
                .join(cur_e.select(F.col("a").alias("id")), "id", "left_semi")
                .localCheckpoint()
            )
            peeled = cur_v.join(core, "id", "left_anti").select(
                "id", F.col("id").alias("scc_id")
            )
            if peeled.isEmpty():
                break
            settled = (
                peeled if settled is None else settled.unionByName(peeled)
            ).localCheckpoint()
            cur_v = core
            cur_e = (
                cur_e.join(core.select(F.col("id").alias("a")), "a", "left_semi")
                .join(core.select(F.col("id").alias("b")), "b", "left_semi")
                .localCheckpoint()
            )
        if cur_v.isEmpty():
            break
        cur_rev = cur_e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        rounds += 1
        fwd = _propagate_min(cur_e, cur_v, max_inner)
        bwd = _propagate_min(cur_rev, cur_v, max_inner)
        lab = fwd.join(
            bwd.select("id", F.col("m").alias("g")), "id"
        )
        now = lab.filter(F.col("m") == F.col("g")).select(
            "id", F.col("m").alias("scc_id")
        )
        settled = (
            now if settled is None else settled.unionByName(now)
        ).localCheckpoint()
        cur_v = cur_v.join(now, "id", "left_anti").localCheckpoint()
        if cur_v.isEmpty():
            break
        alive = cur_v.select(F.col("id").alias("a"))
        alive_b = cur_v.select(F.col("id").alias("b"))
        cur_e = (
            cur_e.join(alive, "a", "left_semi")
            .join(alive_b, "b", "left_semi")
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"strongly_connected_components did not settle every vertex in "
            f"{max_outer} outer rounds"
        )
    if stats is not None:
        stats.update({"outer_rounds": rounds})
    if settled is None:
        # no non-self edges at all: empty result, stable schema
        return verts.select(
            "id", F.col("id").alias("scc_id")
        ).limit(0)
    return settled


def topo_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_layers: int = 200,
    stats: dict | None = None,
) -> DataFrame:
    """Directed edges → (id, layer): topological layering by longest path
    — layer(v) = max path length from any in-degree-0 root (roots = 0).
    The dependency-ordering pass of a provenance/derivation KG: layer k
    can be processed once layers < k are done. Vertices on or downstream
    of a CYCLE never become in-degree-0 and surface with layer NULL (the
    caller routes them to strongly_connected_components for diagnosis).

    Kahn peel, vectorized per layer: round r settles ALL current
    in-degree-0 vertices at layer r (one anti-join against the remaining
    edges' dst side), then drops their out-edges (one semi-join). Rounds
    = longest-path depth — inherently depth-sequential, but each round
    is two joins with no aggregation or flood, and real derivation
    graphs are shallow (depth ≪ size). Self-loops count as cycles.

    DEPTH COST: every peel round localCheckpoints the full REMAINING
    edge set, so total materialized bytes are O(depth · |E|) and wall
    time is depth × (two joins + barrier) — the family-wide bound
    documented on :func:`bfs_distances`. ``max_layers`` is the guard:
    size it to the expected derivation depth (default 200 ≫ any sane
    pipeline DAG) and treat the raise as a data-quality signal, not a
    knob to crank. For genuinely deep chain-shaped provenance (depth
    10³+) with single-parent structure, :func:`tree_depth_doubling`
    computes the same depth in O(log depth) rounds.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    cur_v = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    cur_e = e.localCheckpoint()
    settled: DataFrame | None = None
    n_layers = 0
    for layer in range(max_layers):
        now = cur_v.join(
            cur_e.select(F.col("b").alias("id")), "id", "left_anti"
        ).select("id", F.lit(layer).cast("int").alias("layer"))
        if now.isEmpty():
            break  # every remaining vertex has an in-edge: cyclic core
        settled = (
            now if settled is None else settled.unionByName(now)
        ).localCheckpoint()
        n_layers = layer + 1
        cur_v = cur_v.join(now, "id", "left_anti").localCheckpoint()
        # emptiness checked HERE, not at the top of the next iteration: a
        # DAG needing exactly max_layers peel rounds must complete, not
        # raise after its last round's work already succeeded
        if cur_v.isEmpty():
            break
        cur_e = cur_e.join(
            cur_v.select(F.col("id").alias("a")), "a", "left_semi"
        ).localCheckpoint()
    else:
        raise RuntimeError(
            f"topo_layers exceeded max_layers={max_layers}; the graph is "
            "deeper than expected (raise max_layers) — cycles do NOT "
            "cause this, they exit via the empty-peel branch"
        )
    cyclic = cur_v.select("id", F.lit(None).cast("int").alias("layer"))
    if stats is not None:
        # depth = number of settled layers (a 4-layer DAG reports 4)
        stats.update({"depth": n_layers})
    out = cyclic if settled is None else settled.unionByName(cyclic)
    return out


def tree_depth_doubling(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_doublings: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """(child, parent) pointer edges of a FOREST → (id, depth, root):
    depth = hops to the chain's root, root = the terminal ancestor — the
    deep-provenance-chain answer :func:`topo_layers` computes by
    sequential peel, produced in O(log depth) rounds by pointer doubling
    (list ranking): each round every vertex's pointer jumps to its
    pointer's pointer and accumulates that hop's distance, so the
    longest pending chain HALVES per round.

    Scope is the single-parent case (each child has exactly ONE parent —
    `derived_from` lineage, file/dir trees, chat reply chains), where
    depth-by-pointer-chasing is exact; a multi-parent child raises (its
    longest-path depth needs :func:`topo_layers`). A cycle (a "root"
    that is its own ancestor) never drains and raises at
    ``max_doublings`` — with doubling, 40 rounds covers depth 2⁴⁰, so
    the raise means cyclic data, not insufficient rounds.

    100-TB shape: per round one self-equi-join of the state on the
    pointer key + one localCheckpoint — O(|V|) rows exchanged per round,
    O(|V| · log depth) total, vs the peel family's O(depth · |E|)
    (docstring on :func:`bfs_distances`). Settled vertices (pointer
    already at a root) keep riding the join as probe rows; at 10⁹+
    vertices split them out per round to shrink the build side.

    Self-pointer rows (r → r) are accepted as explicit root
    declarations. NOTE: this operator is EAGER — the doubling loop (and
    the single-parent validation) runs Spark jobs at call time and the
    returned frame is materialized state.

    Exact oracle: DuckDB recursive CTE walking parent pointers
    (graph_tree_depth query).
    """
    # checkpoint the distinct edge set once: the validation job and the
    # initial-state job below both read it, and without the checkpoint
    # each would re-scan the (possibly huge) input and re-run the
    # distinct shuffle — the eager-operator contract already bills one
    # materialization here, so make it the only one
    raw = edges.select(
        F.col(child).alias("id"), F.col(parent).alias("ptr")
    ).distinct().localCheckpoint()
    # single-parent validation folded into the one aggregation that also
    # builds the initial state — no separate aggregation pass. Self-
    # pointer rows (r → r) are accepted as explicit root declarations (a
    # common way to materialize roots in lineage tables), but a vertex
    # declared BOTH a root and a child is contradictory input, not a
    # root — counting self and non-self pointers separately catches it.
    state0 = raw.groupBy("id").agg(
        F.count_if(F.col("ptr") != F.col("id")).alias("__np"),
        F.max((F.col("ptr") == F.col("id")).cast("int")).alias("__self"),
        F.min(F.when(F.col("ptr") != F.col("id"), F.col("ptr"))).alias("ptr"),
    ).localCheckpoint()
    bad = state0.filter(
        (F.col("__np") > 1) | ((F.col("__self") == 1) & (F.col("__np") >= 1))
    )
    if not bad.isEmpty():
        some = [r["id"] for r in bad.select("id").limit(5).collect()]
        raise ValueError(
            f"tree_depth_doubling requires single-parent structure; "
            f"multi-parent children, or children also declared roots "
            f"via (r, r) rows, exist (e.g. {some}) — use topo_layers "
            "for longest-path depth over general DAGs"
        )
    verts = (
        raw.select("id")
        .unionByName(raw.select(F.col("ptr").alias("id")))
        .distinct()
    )
    children = state0.filter(F.col("__np") >= 1)
    # roots = vertices with no (non-self) parent pointer: depth 0
    roots = verts.join(children.select("id"), "id", "left_anti").select(
        "id", F.col("id").alias("ptr"), F.lit(0).cast("long").alias("d")
    )
    state = (
        children.select("id", "ptr", F.lit(1).cast("long").alias("d"))
        .unionByName(roots)
        .localCheckpoint()
    )
    for rnd in range(max_doublings):
        hop = state.select(
            F.col("id").alias("__jid"),
            F.col("ptr").alias("__jptr"),
            F.col("d").alias("__jd"),
        )
        obs = unique_observation("treedepth")
        state = (
            state.join(hop, state["ptr"] == hop["__jid"])
            .select(
                "id",
                F.col("__jptr").alias("ptr"),
                (F.col("d") + F.col("__jd")).alias("d"),
                (F.col("__jd") > 0).cast("long").alias("__moved"),
            )
            .observe(obs, F.sum("__moved").alias("moved"))
            .drop("__moved")
            .localCheckpoint()
        )
        if stats is not None:
            stats["rounds"] = rnd + 1
        if (obs.get["moved"] or 0) == 0:
            return state.select(
                "id", F.col("d").cast("int").alias("depth"),
                F.col("ptr").alias("root"),
            )
    raise RuntimeError(
        f"tree_depth_doubling did not drain in {max_doublings} doublings "
        f"(covers depth 2^{max_doublings}) — the pointer graph contains a "
        "cycle; run strongly_connected_components to locate it"
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 4,
    weight: str | None = None,
    self_weight: int = 1,
    cache_handle: list | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection over the
    UNDIRECTED version of an edge list → (id, label) after exactly
    ``n_rounds`` rounds. Every vertex starts labelled with its own id;
    each round it adopts the most frequent label among its neighbors
    plus its own current label (the self-vote damps the 2-cycle
    oscillation plain synchronous LPA exhibits on bipartite structure),
    ties broken by the SMALLEST label — fully deterministic, so the
    result is exactly reproducible by an unrolled SQL oracle.

    KG consumer: entity-community assignment over the materialized
    kg_edges graph (reference-semantics anchor: the same role the
    catalogue's thematic grouping plays for retrieval facets,
    /root/reference/src/datastore.py:52-66 metadata attach) — the cheap
    precursor to modularity-style clustering when canonicalization
    (connected components over NEAR-DUPLICATE surfaces) is too strict to
    group related-but-distinct entities.

    100-TB shape per round: one equi-join of the (static, persisted)
    symmetric edge list with the current |V|-row label vector on the
    NEIGHBOR key, one map-side-combined (v,label) count, then a second
    map-side-combinable max-of-struct aggregation per vertex — two
    key-partitioned exchanges per round, no window sort, no all-pairs.
    Fixed ``n_rounds`` (not convergence-probed): synchronous LPA is not
    guaranteed to converge, and community quality plateaus in ~5 rounds
    (Raghavan et al. 2007); localCheckpoint truncates lineage per round.
    Hot-vertex skew: a degree-d hub contributes d vote rows per round —
    identical skew class to pagerank_fixed's fanout, and the same
    mitigation applies (salted two-phase count via
    build_pagerank_fanout's bucketing) if a real hub dominates.

    ``weight`` (optional INTEGER edge-weight column) makes votes
    weight-proportional — the kg_edges consumer counts co-mention
    multiplicity, so a 40-triple relation should out-vote a 1-triple
    one; parallel input rows for the same undirected pair sum. The
    ``self_weight`` vote keeps the oscillation damping. Integer weights
    keep the update rule exact — no float enters the comparison.

    NOTE: EAGER — each round localCheckpoints the |V|-row label frame, so
    n_rounds Spark jobs run at call time; total materialized state is
    O(n_rounds · |V|), never O(|E|).

    Pass ``cache_handle`` (a list) to receive the persisted symmetric
    edge frame for deterministic unpersist after consumption.
    """
    w_expr = F.col(weight) if weight is not None else F.lit(1)
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            w_expr.cast("long").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum("w").alias("w")
            if weight is not None
            else F.lit(1).cast("long").alias("w")
        )
    )
    # pre-partition the (static) symmetric edge list on the JOIN key once:
    # every round's vote join then reuses this layout and only the |V|-row
    # label vector exchanges — without it the |2E| side would re-exchange
    # n_rounds times (the dominant shuffle at scale)
    sym = (
        und.select(F.col("a").alias("v"), F.col("b").alias("n"), "w")
        .unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("n"), "w"))
        .repartition("n")
        .persist()
    )
    if cache_handle is not None:
        cache_handle.append(sym)
    lab = sym.select(F.col("v").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for rnd in range(n_rounds):
        votes = sym.join(
            lab.select(F.col("id").alias("n"), "label"), "n"
        ).select("v", "label", "w").unionAll(
            lab.select(
                F.col("id").alias("v"),
                "label",
                F.lit(self_weight).cast("long").alias("w"),
            )
        )
        counts = votes.groupBy("v", "label").agg(F.sum("w").alias("c"))
        # min of (−count, label) = most frequent, then smallest label —
        # an aggregation (map-side combinable) instead of a window sort;
        # negating the COUNT (not the label) keeps any orderable label
        # type working (entity ids are strings in the KG consumer)
        lab = (
            counts.groupBy("v")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("negc"), F.col("label").alias("lab")
                    )
                ).alias("t")
            )
            .select(F.col("v").alias("id"), F.col("t.lab").alias("label"))
        )
        # lineage truncation cadence: every _CHECKPOINT_EVERY rounds (and
        # always on the last). Interleaved same-session A/B at sf0.1
        # (round 6): K=1 2.32 s, K=2 3.76 s, K=4 8.97 s warm medians —
        # LESS checkpointing is strictly WORSE here because each round
        # references ``lab`` TWICE (vote join + self-vote union branch),
        # so an unmaterialized round's subtree recomputes 2× per
        # reference and the blowup compounds per skipped barrier. The
        # cadence stays 1; the knob records the measurement.
        #
        # eager=False (round 7): LPA runs a FIXED round count with no
        # convergence probe, so nothing needs the checkpoint's result
        # between rounds — a lazy checkpoint keeps the same per-round
        # lineage truncation and double-reference caching (the RDD is
        # persisted and cut when the caller's single action first
        # computes it) but collapses n_rounds sequential driver-blocking
        # jobs into one action-driven cascade. Measured on the bench
        # graph: warm 2.61 → ~1.0 s, identical labels (integer update
        # rule is materialization-independent). Kernels WITH a
        # convergence probe (SCC, BFS) must stay
        # eager — their loop condition reads each round's Observation.
        if rnd % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1 or rnd == n_rounds - 1:
            lab = lab.localCheckpoint(eager=False)
    return lab


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 4,
    n_walks: int = 2,
    seed: int = 42,
    max_neighbors: int | None = 10_000,
) -> DataFrame:
    """Deterministic truncated random walks over the UNDIRECTED version
    of an edge list → (walk_id, step, node), ``n_walks`` walks of
    ``walk_length`` hops from EVERY vertex — the node2vec/DeepWalk
    corpus-generation stage of a graph-embedding training pipeline
    (the KG consumer: turn the materialized entity graph into positive
    skip-gram pairs; kg_negative_samples already provides the negatives).

    "Random" is a pure hash function, not an RNG: the next hop from
    ``cur`` at ``step`` in walk ``walk_id`` is
    ``neighbors[crc32(f"{seed}|{walk_id}|{step}|{cur}") % deg]`` over the
    SORTED neighbor array. That makes every walk independent of
    partitioning, task retries, and executor count (the same
    determinism-under-reshuffle contract as split.md5-bucket sampling) —
    and exactly reproducible by a pure-Python twin sharing zlib.crc32.

    100-TB shape: the adjacency build is one groupBy (neighbor arrays
    sorted on the reducer); each hop is ONE equi-join of the frontier
    (|V|·n_walks rows, constant per step) against the adjacency table on
    the current node — walk_length joins total, no iteration-growing
    state, no shuffled corpus. Hub adjacency arrays are capped at
    ``max_neighbors`` (deterministic: sorted prefix) so a 10⁸-degree hub
    cannot blow a single reducer row past memory; the cap biases hub
    transitions toward low-id neighbors, which embedding training
    tolerates (hub transitions are near-uniform noise); ``None`` opts
    out. Dead ends cannot occur on a symmetric adjacency (every vertex
    that appears has >= 1 neighbor).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    adj = sym.groupBy("v").agg(F.array_sort(F.collect_list("n")).alias("nbrs"))
    if max_neighbors is not None:
        adj = adj.withColumn("nbrs", F.slice("nbrs", 1, max_neighbors))
    adj = adj.persist()
    starts = adj.select("v").crossJoin(
        F.broadcast(
            adj.sparkSession.range(n_walks).select(
                F.col("id").cast("int").alias("w")
            )
        )
    )
    frontier = starts.select(
        F.concat_ws(":", F.col("v"), F.col("w")).alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("v").alias("node"),
    )
    out = frontier
    for step in range(1, walk_length + 1):
        hop = frontier.join(adj, frontier["node"] == adj["v"]).select(
            "walk_id",
            F.lit(step).alias("step"),
            F.element_at(
                "nbrs",
                (
                    F.pmod(
                        F.crc32(
                            F.concat_ws(
                                "|",
                                F.lit(seed),
                                F.col("walk_id"),
                                F.lit(step),
                                F.col("node"),
                            ).cast("binary")
                        ),
                        F.size("nbrs"),
                    )
                    + F.lit(1)
                ).cast("int"),
            ).alias("node"),
        )
        frontier = hop
        out = out.unionByName(hop)
    return out


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity Q of a vertex labeling over the UNDIRECTED
    simple graph → one row (m_edges, intra_edges, sum_deg_sq, modularity)
    — the quality gate for :func:`label_propagation` output (accept a
    community assignment only if Q clears a floor).

    Float discipline: Q = Σ_c(e_c/m − (d_c/2m)²) has a per-community SUM
    whose double summation ORDER differs between engines; this
    formulation hoists the sums into INTEGER aggregates first —
    Q = intra/m − Σ_c d_c² / (4m²) — so the only float ops are two exact
    int→double casts, one division each, and one subtraction, identical
    bit-for-bit in any engine/partitioning. (d_c counts half-edge
    endpoints: d_c = Σ_{v∈c} deg(v), Σ_c d_c = 2m.)

    100-TB shape: two key-partitioned joins annotate edge endpoints with
    labels (the labels frame is |V|-sized — NOT broadcast), one map-side
    combinable per-label degree sum, then single-row global aggregates;
    nothing quadratic, no window.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    la = labels.select(F.col("id").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("lb"))
    tagged = und.join(la, "a").join(lb, "b")
    m_intra = tagged.select(
        F.count(F.lit(1)).alias("m_edges"),
        F.count_if(F.col("la") == F.col("lb")).alias("intra_edges"),
    )
    sym = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    d_c = (
        deg.join(labels.select(F.col("id").alias("v"), "label"), "v")
        .groupBy("label")
        .agg(F.sum("deg").alias("d_c"))
    )
    sumsq = d_c.select(F.sum(F.col("d_c") * F.col("d_c")).alias("sum_deg_sq"))
    return m_intra.crossJoin(F.broadcast(sumsq)).select(
        "m_edges",
        "intra_edges",
        "sum_deg_sq",
        (
            F.col("intra_edges").cast("double") / F.col("m_edges").cast("double")
            - F.col("sum_deg_sq").cast("double")
            / (
                F.lit(4.0)
                * F.col("m_edges").cast("double")
                * F.col("m_edges").cast("double")
            )
        ).alias("modularity"),
    )


def walk_skipgram_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """(walk_id, step, node) walks → skip-gram positive training pairs
    (center, context, n_pairs): every ordered co-occurrence within
    ``window`` hops on the same walk, counted corpus-wide — the
    DeepWalk/node2vec pair-generation stage that turns
    :func:`random_walks` output into embedding-training positives
    (kg_negative_samples supplies the negatives).

    100-TB shape: ONE self-equi-join keyed on walk_id — each walk is a
    (walk_length+1)-row group, so the join fan-out per key is the
    constant (L+1)·window, never data-dependent — followed by a
    map-side-combinable (center, context) count whose key space is the
    edge-neighborhood size, orders of magnitude below the pair stream.
    """
    a = walks.select(
        F.col("walk_id").alias("w"),
        F.col("step").alias("s1"),
        F.col("node").alias("center"),
    )
    b = walks.select(
        F.col("walk_id").alias("w"),
        F.col("step").alias("s2"),
        F.col("node").alias("context"),
    )
    return (
        a.join(b, "w")
        .filter(
            (F.col("s2") > F.col("s1"))
            & (F.col("s2") - F.col("s1") <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def random_walks_node2vec(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 4,
    n_walks: int = 1,
    seed: int = 42,
    p: int = 1,
    q: int = 2,
    max_neighbors: int | None = 10_000,
) -> DataFrame:
    """Second-order (node2vec-biased) deterministic random walks →
    (walk_id, step, node): the next hop is drawn with the node2vec
    weights — 1/p to RETURN to the previous node, 1 to a COMMON neighbor
    of (prev, cur), 1/q to go FARTHER — so integer p > 1 discourages
    backtracking and q > 1 keeps walks local (BFS-like), the knobs that
    make node2vec embeddings tune between homophily and structural
    equivalence (Grover & Leskovec 2016). ``p``/``q`` are positive
    integers; weights are pq-scaled to exact integers (return = q,
    common = p·q, far = p), so weighted selection is pure integer
    arithmetic: r = crc32(seed|walk|step|cur|prev) mod Σweights, pick
    the first sorted neighbor whose cumulative weight exceeds r —
    partition/retry invariant and exactly twin-able, like
    :func:`random_walks`. Step 1 has no prev (concat_ws skips the NULL;
    all candidates weigh ``far``) and degenerates to a uniform pick.

    100-TB shape: per hop ONE equi-join on the current node plus one
    LEFT join on the previous node (for N(prev) membership); the
    weighting/selection is a single O(deg) Catalyst ``aggregate`` over
    the zipped (weight, index) array — no per-row Python, no
    deg²-anything; hub arrays capped as in :func:`random_walks`.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    adj = sym.groupBy("v").agg(F.array_sort(F.collect_list("n")).alias("nbrs"))
    if max_neighbors is not None:
        adj = adj.withColumn("nbrs", F.slice("nbrs", 1, max_neighbors))
    adj = adj.persist()
    starts = adj.select("v").crossJoin(
        F.broadcast(
            adj.sparkSession.range(n_walks).select(
                F.col("id").cast("int").alias("w")
            )
        )
    )
    frontier = starts.select(
        F.concat_ws(":", F.col("v"), F.col("w")).alias("walk_id"),
        F.col("v").alias("node"),
        F.lit(None).cast(adj.schema["v"].dataType).alias("prev"),
    )
    out = frontier.select("walk_id", F.lit(0).alias("step"), "node")
    cur_adj = adj.select(F.col("v").alias("node"), "nbrs")
    prev_adj = adj.select(F.col("v").alias("prev"), F.col("nbrs").alias("pn"))
    for step in range(1, walk_length + 1):
        j = (
            frontier.join(cur_adj, "node")
            .join(prev_adj, "prev", "left")
            .withColumn("pn", F.coalesce("pn", F.array()))
        )
        prev_c, r_w, c_w, f_w = (
            F.col("prev"), F.lit(q), F.lit(p * q), F.lit(p),
        )
        j = j.withColumn(
            "wts",
            F.transform(
                "nbrs",
                lambda x: F.when(x.eqNullSafe(prev_c), r_w)
                .when(F.array_contains(F.col("pn"), x), c_w)
                .otherwise(f_w)
                .cast("long"),
            ),
        )
        j = j.withColumn(
            "r",
            F.pmod(
                F.crc32(
                    F.concat_ws(
                        "|",
                        F.lit(seed),
                        F.col("walk_id"),
                        F.lit(step),
                        F.col("node"),
                        F.col("prev"),
                    ).cast("binary")
                ),
                F.aggregate("wts", F.lit(0).cast("long"), lambda a, x: a + x),
            ),
        )
        # first index whose cumulative weight exceeds r — one O(deg)
        # fold over (weight, index) pairs with a (cum, chosen) accumulator
        j = j.withColumn(
            "sel",
            F.aggregate(
                F.zip_with(
                    "wts",
                    F.sequence(F.lit(1), F.size("nbrs")),
                    lambda w, i: F.struct(w.alias("w"), i.alias("i")),
                ),
                F.struct(
                    F.lit(0).cast("long").alias("cum"), F.lit(0).alias("idx")
                ),
                lambda acc, s: F.struct(
                    (acc["cum"] + s["w"]).alias("cum"),
                    F.when(
                        (acc["idx"] == 0) & (acc["cum"] + s["w"] > F.col("r")),
                        s["i"],
                    )
                    .otherwise(acc["idx"])
                    .alias("idx"),
                ),
            )["idx"],
        )
        hop = j.select(
            "walk_id",
            F.element_at("nbrs", F.col("sel")).alias("node"),
            F.col("node").alias("prev"),
        )
        frontier = hop
        out = out.unionByName(
            hop.select("walk_id", F.lit(step).alias("step"), "node")
        )
    return out


def sparsify_topk_edges(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Degree-bounding graph sparsifier: keep each node's k strongest
    incident edges (by weight desc, then neighbor asc for deterministic
    ties); an edge survives if EITHER endpoint ranks it — the standard
    pre-processing step before wedge-join algorithms (triangles, link
    prediction) whose cost is Σ deg², and before visual/ANN-graph
    export. A node's own ranking keeps ≤ k of its edges; its final
    degree can exceed k only by edges its NEIGHBORS fought to keep —
    bounded fan-in, not a silent cap (every dropped edge lost a
    deterministic contest on both endpoints).

    100-TB shape: one unionAll to view the edge list from both
    endpoints, one per-node window top-k (single exchange on the
    endpoint key), one distinct on the surviving keys — no joins, no
    fan-out beyond 2|E|. The window sorts only per-node groups; a
    10⁸-degree hub sorts its own incident list, which is exactly the
    work the sparsifier exists to amortize (do it once here, not in
    every downstream wedge join).
    """
    both = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).alias("w")
    ).unionAll(
        edges.select(
            F.col(dst).alias("s"), F.col(src).alias("d"), F.col(weight).alias("w")
        )
    )
    win = Window.partitionBy("s").orderBy(
        F.desc("w"), F.asc("d")
    )
    kept = (
        both.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
        .select(
            F.least(F.col("s"), F.col("d")).alias("a"),
            F.greatest(F.col("s"), F.col("d")).alias("b"),
            F.col("w"),
        )
        .distinct()
    )
    return kept.select(
        F.col("a").alias(src), F.col("b").alias(dst), F.col("w").alias(weight)
    )


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per vertex → (id, deg, tri_cnt,
    coeff = 2·tri / (deg·(deg−1)), 0.0 when deg < 2) — the per-entity
    "how clique-like is this node's neighborhood" feature (KG use:
    entities inside dense co-mention clusters vs bridge entities; a
    standard node feature for link-prediction training sets alongside
    :func:`link_prediction_scores` outputs).

    Plan: triangles enumerated ONCE by id-ordered wedge join
    (a<b<c, each triangle exactly one row), then exploded to the three
    corners and counted per vertex — two key-partitioned joins + one
    3×|triangles| union + two map-side-combinable aggs. The division is
    int/int in double: both operands exact, one IEEE op — engines agree
    bit-for-bit, no rounding needed.

    Skew note: the wedge join fans out C(deg,2) per LOW-id vertex; on
    hub-heavy graphs run :func:`sparsify_topk_edges` first (the intended
    composition) or the degree-ordered orientation of
    :func:`triangle_count` if only the global count is needed.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])  # x < y < z, once each
    corners = (
        tris.select(F.col("x").alias("id"))
        .unionAll(tris.select(F.col("y").alias("id")))
        .unionAll(tris.select(F.col("z").alias("id")))
    )
    tri_cnt = corners.groupBy("id").agg(F.count(F.lit(1)).alias("tri_cnt"))
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.join(tri_cnt, "id", "left").select(
        "id",
        "deg",
        F.coalesce("tri_cnt", F.lit(0)).alias("tri_cnt"),
        F.when(F.col("deg") < 2, F.lit(0.0))
        .otherwise(
            (F.lit(2.0) * F.coalesce("tri_cnt", F.lit(0)).cast("double"))
            / (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double")
        )
        .alias("coeff"),
    )


def community_conductance(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-community conductance φ(C) = cut(C) / min(vol(C), vol(V∖C))
    → (label, n_nodes, cut_edges, volume, conductance) — the
    PER-COMMUNITY quality metric beside the global :func:`modularity`
    score (a community can be tight while the whole partition scores
    poorly, and vice versa); standard accept/reject signal for
    promoting an LPA community to a curated entity group.

    Exactness: cut and volume are integer aggregates; the division and
    the min are single IEEE ops on exact ints — bit-agreed with the SQL
    oracle, no rounding. cut = 0 (e.g. the whole-graph community, whose
    complement volume is 0) is explicitly φ = 0 rather than 0/0 = NaN;
    cut > 0 implies both volumes are positive, so the division is safe.

    Plan: two label-annotation joins on the edge endpoints, one
    map-side-combinable agg per community for cut, one for volume (via
    degrees), one broadcast scalar total volume — nothing quadratic.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    la = labels.select(F.col("id").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("lb"))
    tagged = und.join(la, "a").join(lb, "b")
    # cut edges counted once per SIDE: an inter-community edge is a cut
    # edge for BOTH its communities
    cuts = (
        tagged.filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("label"))
        .unionAll(
            tagged.filter(F.col("la") != F.col("lb")).select(
                F.col("lb").alias("label")
            )
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cut_edges"))
    )
    sym = und.select(F.col("a").alias("v")).unionAll(
        und.select(F.col("b").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    vol = (
        deg.join(labels.select(F.col("id").alias("v"), "label"), "v")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("volume"),
        )
    )
    total = vol.select(F.sum("volume").alias("total_vol"))
    return (
        vol.join(cuts, "label", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "label",
            "n_nodes",
            F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
            "volume",
            # explicit 0.0 for cut == 0: the whole-graph community has
            # min-volume 0 and would otherwise produce 0/0 = NaN
            F.when(F.coalesce("cut_edges", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.coalesce("cut_edges", F.lit(0)).cast("double")
                / F.least(
                    F.col("volume"), F.col("total_vol") - F.col("volume")
                ).cast("double")
            )
            .alias("conductance"),
        )
    )


def _sym_undirected(
    edges: DataFrame, src: str, dst: str, v: str = "v", n: str = "n"
) -> DataFrame:
    """Canonical undirected symmetrization shared by the structural
    operators: distinct (least, greatest) edge set, self-loops dropped,
    emitted in both directions as (v, n). Edge-normalization semantics
    live in ONE place — every new structural operator symmetrizes here."""
    und = edges.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()
    return und.select(F.col("a").alias(v), F.col("b").alias(n)).unionAll(
        und.select(F.col("b").alias(v), F.col("a").alias(n))
    )


def _hll_init_registers(verts: DataFrame, m: int) -> DataFrame:
    """Per-vertex HLL register seed rows (v, j, rho): crc32 bucket,
    second-crc32 leading-zero rank via the INTEGER 33 − length(bin(h))
    derivation (no float log2). Shared by hyperball_ball_estimates and
    neighborhood_function — the register algebra the twins mirror lives
    in ONE place."""
    h1 = F.crc32(F.col("v").cast("string").cast("binary"))
    h2 = F.crc32(F.concat(F.col("v").cast("string"), F.lit("|rho")).cast("binary"))
    return verts.select(
        "v",
        (h1 % m).cast("int").alias("j"),
        F.when(h2 == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(h2)))
        .cast("int")
        .alias("rho"),
    )


def _hll_vertex_estimates(regs: DataFrame, m: int, alpha: float) -> DataFrame:
    """(v, j, rho) sparse registers → (v, est): the HLL estimator with
    linear-counting correction below 2.5·m. The harmonic Σ2^−rho over
    ≤m power-of-two terms is exact in a double in any order; callers
    apply their own final rounding (6 decimals / integer millionths)."""
    per_v = regs.groupBy("v").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("ps"),
        F.count(F.lit(1)).alias("nr"),
    )
    denom = F.col("ps") + (F.lit(m) - F.col("nr"))
    zeros = (F.lit(m) - F.col("nr")).cast("double")
    raw = F.lit(alpha * m * m) / denom
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per_v.select("v", est.alias("est"))


def khop_ball_sizes(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    cache_handle: list | None = None,
) -> DataFrame:
    """Per-vertex k-hop neighborhood (ball) size over the UNDIRECTED
    edge list → (id, ball_size) where ball_size = #distinct vertices
    u ≠ v with dist(v, u) ≤ k — the pointwise neighborhood function
    (the quantity HyperBall/ANF estimate with sketches; Boldi & Vigna,
    "HyperBall: in-core per-node radius computation", 2013 — public
    literature). KG consumer: entity influence radius — how much of the
    graph an entity can reach in k relation hops, the locality feed for
    sampling balanced subgraphs.

    EXACT by construction: per round, the (v, u) reached-pair set joins
    the symmetric edge list on the frontier key and re-distincts —
    state is Σ_v |ball_k(v)| pairs, which is the honest cost of an
    exact answer and explodes on small-diameter graphs (that's WHY the
    literature sketches it). At 100 TB use the sketch path instead:
    the same loop with per-vertex HLL registers (sketch_approx_distinct
    shows the register algebra) keeps state O(|V|·register_width). This
    operator is the exact small-k/medium-graph member and the oracle
    for that sketch path. k is bounded (ValueError > 4) as a footgun
    guard; each round localCheckpoints to truncate lineage.
    """
    if not 1 <= k <= 4:
        raise ValueError(f"k must be in [1, 4] (exact balls explode): {k}")
    # persisted symmetric edges: pass cache_handle (list) to receive the
    # frame for deterministic unpersist once the result is consumed —
    # the same release contract as the dedup family (ADVICE r6)
    sym = _sym_undirected(edges, src, dst, v="v", n="u").persist()
    if cache_handle is not None:
        cache_handle.append(sym)
    reach = sym
    for _ in range(k - 1):
        nxt = (
            reach.select("v", F.col("u").alias("m"))
            .join(sym.select(F.col("v").alias("m"), "u"), "m")
            .filter(F.col("v") != F.col("u"))
            .select("v", "u")
        )
        # lazy: fixed round count, no convergence probe — one
        # action-driven cascade instead of k-1 blocking jobs (same
        # rationale as label_propagation's round-7 change)
        reach = reach.unionAll(nxt).distinct().localCheckpoint(eager=False)
    return reach.groupBy(F.col("v").alias("id")).agg(
        F.count(F.lit(1)).alias("ball_size")
    )


def hyperball_ball_estimates(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    m: int = 64,
    cache_handle: list | None = None,
) -> DataFrame:
    """HyperBall: per-vertex k-hop neighborhood-size ESTIMATES via
    HyperLogLog register max-propagation (Boldi & Vigna 2013) — the
    100-TB path :func:`khop_ball_sizes`' docstring points at.  State is
    O(|V| · registers) regardless of ball sizes, vs the exact
    operator's O(Σ|ball|): on a small-diameter 10¹²-edge graph the
    exact pair set is the whole V×V square by hop 4, while registers
    never grow.

    Mechanics, all Catalyst (no UDF, no RNG): each vertex hashes itself
    once (crc32 → register index, second crc32 → rho = leading-zero
    rank via ``33 − length(bin(h))``, an INTEGER derivation — no
    float log2 whose boundary rounding could diverge from the twin);
    registers live SPARSE as (v, j, rho) rows (one row per vertex
    initially — zeros are never materialized); each round every
    vertex max-merges its neighbors' registers (edge join + groupBy
    (v, j) max — map-side combinable, hub skew collapses in the
    partial).  After k rounds a vertex's registers are exactly the
    max over its ball's members' initial registers, so the standard
    HLL estimator (α_m·m²/Σ2^−rho, linear-counting correction below
    2.5·m) reads the ball size.  Σ2^−rho over ≤64 power-of-two terms
    ≥2^−33 is EXACT in a double in any order, so the only rounding
    budget is the final division/ln (round 6) — the VALUES twin
    re-derives registers and estimator bit-for-bit.

    KG consumer: entity influence radius over the materialized graph at
    sizes where exact balls are unpayable; ``ball_est`` ≈ |ball_k(v)|+1
    (HLL counts the vertex itself — the twin matches, callers subtract
    1 if they want the open ball).
    """
    if m != 64:
        # alpha below is the m=64 constant; a bare assert would vanish
        # under python -O and silently bias every estimate
        raise ValueError(f"register count fixed at 64 (alpha constant): {m}")
    alpha = 0.709  # HLL alpha_m for m=64 (Flajolet et al. 2007)
    sym = _sym_undirected(edges, src, dst).persist()
    if cache_handle is not None:
        cache_handle.append(sym)  # deterministic-release contract (ADVICE r6)
    regs = _hll_init_registers(sym.select("v").distinct(), m).localCheckpoint(
        eager=False  # fixed rounds, no probe — lazy cascade (see LPA)
    )
    for _ in range(k):
        flowed = (
            sym.join(regs.select(F.col("v").alias("n"), "j", "rho"), "n")
            .select("v", "j", "rho")
        )
        regs = (
            regs.unionAll(flowed)
            .groupBy("v", "j")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
    return _hll_vertex_estimates(regs, m, alpha).select(
        F.col("v").alias("id"), F.round("est", 6).alias("ball_est")
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the undirected edge list →
    one row (n_edges, r). Positive r = hubs attach to hubs (social
    shape); negative = hubs attach to leaves (hub-and-spoke — the
    typical KG entity graph). Curators read it to pick between the
    hub-capped and plain variants of the wedge/walk operators.

    Exactness: every sum in the Pearson formula (Σxy, Σx, Σx², over
    both edge directions) is an INTEGER aggregate of degree products —
    only the final correlation is float (3 exact ops + 1 division),
    the same hoisting discipline as graph_modularity. Scale shape: one
    degree aggregate (|V| rows), one join back to edges on each
    endpoint (id-keyed), one global aggregate to a single row.
    """
    sym = _sym_undirected(edges, src, dst, v="v", n="u")
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    paired = (
        sym.join(deg.select(F.col("v"), F.col("d").alias("dx")), "v")
        .join(deg.select(F.col("v").alias("u"), F.col("d").alias("dy")), "u")
    )
    agg = paired.agg(
        F.count(F.lit(1)).alias("m2"),  # 2·|E| directed endpoint pairs
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
    )
    # over the symmetric pair list x and y are exchangeable, so
    # Σx = Σy and Σx² = Σy² — one pass carries every Pearson term
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        F.round((num.cast("double") / den.cast("double")), 6).alias("assortativity"),
    )


def wl_refinement(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 2,
    cache_handle: list | None = None,
) -> DataFrame:
    """Weisfeiler–Leman color refinement over the undirected edge list →
    (id, wl_color) after ``n_rounds`` rounds — the 1-WL structural
    signature (Weisfeiler & Leman 1968; Shervashidze et al., "WL graph
    kernels", JMLR 2011 — public literature). Two vertices share a
    color iff their k-hop neighborhood TREES are indistinguishable:
    the role-discovery primitive (all leaf entities of star-shaped
    relations land in one color class regardless of which hub they
    hang off), and the per-graph color histogram is the classic
    graph-dedup fingerprint for repeated substructures.

    Deterministic mechanics: initial color = degree; each round
    ``color' = crc32(color | sorted multiset of neighbor colors)``
    rendered canonically ("c|n1,n2,..." with numerically sorted
    neighbors, crc32 = the process-stable hash discipline of this
    module).  The multiset sort happens INSIDE a per-vertex aggregate
    (collect_list → array_sort — bounded by degree, the same per-key
    memory contract as the rollup operators; cap hub degrees upstream
    with sparsify_topk_edges if a 10⁸-degree hub exists).  One
    label-join + one aggregate per round, localCheckpoint lineage
    discipline shared with label_propagation.
    """
    sym = _sym_undirected(edges, src, dst).persist()
    if cache_handle is not None:
        cache_handle.append(sym)  # deterministic-release contract (ADVICE r6)
    colors = sym.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)  # fixed rounds, no probe — lazy cascade
    for _ in range(n_rounds):
        neigh = sym.join(
            colors.select(F.col("v").alias("n"), F.col("c").alias("cn")), "n"
        ).select("v", "cn")
        multisets = neigh.groupBy("v").agg(
            F.array_sort(F.collect_list("cn")).alias("ns")
        )
        colors = (
            colors.join(multisets, "v")
            .select(
                "v",
                F.crc32(
                    F.concat_ws(
                        "|",
                        F.col("c").cast("string"),
                        F.concat_ws(
                            ",",
                            F.transform(F.col("ns"), lambda x: x.cast("string")),
                        ),
                    ).cast("binary")
                ).cast("long").alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    return colors.select(F.col("v").alias("id"), F.col("c").alias("wl_color"))


def neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_t: int = 3,
    m: int = 64,
    cache_handle: list | None = None,
) -> DataFrame:
    """The neighborhood function N(t) = Σ_v |ball_t(v)| estimated with
    the :func:`hyperball_ball_estimates` register algebra, one row per
    t ∈ [0, max_t] — the curve whose 90% crossing is the EFFECTIVE
    DIAMETER (the headline statistic ANF/HyperANF compute on web-scale
    graphs; Palmer et al. 2002, Boldi & Vigna 2011).

    → (t, n_est_millionths, n_est): per-vertex estimates are rounded
    half-up to 6 decimals and summed as INTEGER millionths — a float
    Σ over |V| doubles is summation-order-dependent and would diverge
    from the twin in the low bits, while the integer sum is exact in
    any order (the dyadic-sum discipline of the temporal operators);
    ``n_est`` is the one final division back to a double.

    Per round: one register flow join + (v, j) max aggregate (the
    HyperBall loop) plus one global estimate rollup. State stays
    O(|V|·m) at every t — the property that makes the curve computable
    where exact balls (:func:`khop_ball_sizes`) are unpayable.
    """
    alpha = 0.709  # m=64 constant; _hll guards below share the contract
    if m != 64:
        raise ValueError(f"register count fixed at 64 (alpha constant): {m}")
    sym = _sym_undirected(edges, src, dst).persist()
    if cache_handle is not None:
        cache_handle.append(sym)  # deterministic-release contract (ADVICE r6)
    regs = _hll_init_registers(sym.select("v").distinct(), m).localCheckpoint(
        eager=False  # fixed rounds, no probe — lazy cascade (see LPA)
    )

    def est_sum(r: DataFrame, t: int) -> DataFrame:
        return _hll_vertex_estimates(r, m, alpha).select(
            F.round(F.col("est") * 1e6).cast("long").alias("e6")
        ).agg(
            F.lit(t).alias("t"),
            F.sum("e6").alias("n_est_millionths"),
        )

    out = est_sum(regs, 0)
    for t in range(1, max_t + 1):
        flowed = (
            sym.join(regs.select(F.col("v").alias("n"), "j", "rho"), "n")
            .select("v", "j", "rho")
        )
        regs = (
            regs.unionAll(flowed)
            .groupBy("v", "j")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(est_sum(regs, t))
    return out.select(
        "t",
        "n_est_millionths",
        F.round(F.col("n_est_millionths") / 1e6, 6).alias("n_est"),
    )


def linkpred_auc(
    edges: DataFrame,
    pos_pairs: DataFrame,
    neg_pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    cache_handle: list | None = None,
) -> DataFrame:
    """AUC of the common-neighbor link-prediction score: P(score(pos) >
    score(neg)) with ties counted half — the standard evaluation of a
    link predictor (Hand & Till 2001 rank formulation). → one row
    (n_pos, n_neg, auc_num_x2, auc).

    EXACT arithmetic: common-neighbor counts are integers, so the AUC
    numerator 2·(wins + ties/2) = 2·wins + ties is an INTEGER
    (``auc_num_x2``), accumulated via a cumulative-count window over the
    distinct score values — never a pairwise pos×neg join. The only
    float is the final division by 2·n_pos·n_neg.

    Scale shape: scores for both pair sets come from two id-keyed joins
    against the symmetric edge list (|pairs|·avg-degree intermediate,
    the wedge-join class — cap degrees upstream with
    sparsify_topk_edges on hub-heavy graphs); pairs without common
    neighbors default to score 0 via a left join. The AUC rollup keys
    on DISTINCT SCORE VALUES (tiny — CN counts), windows over that
    value table, and lands on one row.
    """
    sym = _sym_undirected(edges, src, dst).persist()
    if cache_handle is not None:
        cache_handle.append(sym)  # deterministic-release contract (ADVICE r6)

    def cn_scores(pairs: DataFrame) -> DataFrame:
        p = pairs.select(F.col("a"), F.col("b"))
        na = sym.select(F.col("v").alias("a"), F.col("n").alias("cn"))
        nb = sym.select(F.col("v").alias("b"), F.col("n").alias("cn"))
        counted = (
            p.join(na, "a").join(nb, ["b", "cn"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("score"))
        )
        return p.join(counted, ["a", "b"], "left").select(
            "a", "b", F.coalesce("score", F.lit(0)).cast("long").alias("score")
        )

    pos = cn_scores(pos_pairs).groupBy("score").agg(
        F.count(F.lit(1)).alias("n_pos_s")
    )
    neg = cn_scores(neg_pairs).groupBy("score").agg(
        F.count(F.lit(1)).alias("n_neg_s")
    )
    both = pos.join(neg, "score", "full_outer").select(
        "score",
        F.coalesce("n_pos_s", F.lit(0)).alias("np"),
        F.coalesce("n_neg_s", F.lit(0)).alias("nn"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    scored = both.withColumn(
        "neg_below", F.coalesce(F.sum("nn").over(w), F.lit(0))
    )
    return scored.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        (2 * F.sum(F.col("np") * F.col("neg_below"))
         + F.sum(F.col("np") * F.col("nn"))).cast("long").alias("auc_num_x2"),
    ).select(
        "n_pos",
        "n_neg",
        "auc_num_x2",
        F.round(
            F.col("auc_num_x2")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


def effective_diameter(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_t: int = 4,
    quantile_millionths: int = 900_000,
) -> DataFrame:
    """Effective diameter from the HyperBall neighborhood function: the
    smallest t whose N(t) reaches ``quantile`` (default 0.9) of
    N(max_t) — THE one-number connectivity summary web-graph papers
    report (Leskovec et al.'s "shrinking diameters" is this statistic
    over time; on a KG it tells a curator how many relation hops cover
    most entity pairs). → one row (eff_diameter, n_max_est, plus the
    crossing N(t)).

    All comparison arithmetic stays in INTEGER MILLIONTHS (the
    neighborhood function's dyadic rollup): the threshold is
    ``n_max_millionths · quantile_millionths`` vs ``n_t · 10⁶`` — exact
    long multiplication on both engines, no float boundary. The
    smallest crossing t falls out of a min-of-struct aggregate over the
    (t, N) table (max_t+1 rows — driver-free, broadcast-free).
    """
    nf = neighborhood_function(edges, src, dst, max_t=max_t)
    nmax = nf.agg(F.max("n_est_millionths").alias("n_max"))
    crossed = (
        nf.crossJoin(F.broadcast(nmax))
        .filter(
            F.col("n_est_millionths") * F.lit(1_000_000)
            >= F.col("n_max") * F.lit(quantile_millionths)
        )
        .agg(
            F.min(
                F.struct(F.col("t").alias("t"), F.col("n_est_millionths").alias("n"))
            ).alias("c"),
            F.max("n_max").alias("n_max"),
        )
    )
    return crossed.select(
        F.col("c.t").alias("eff_diameter"),
        F.col("c.n").alias("n_at_diameter_millionths"),
        F.round(F.col("n_max") / 1e6, 6).alias("n_max_est"),
    )
