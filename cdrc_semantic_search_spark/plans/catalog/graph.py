"""Registry chunk: graph / canonicalization / ANN index paths.

Split out of plans/catalog_queries.py (round 7, registry maintenance —
VERDICT r6 #5) at the original section boundaries, content and
REGISTRATION ORDER unchanged: plans/catalog_queries.py imports every
chunk in the original file order, so ``REGISTRY`` iterates identically
and ``oracle_sql()`` emits byte-identical SQL. See catalog_queries.py
for the cross-engine determinism conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import Window  # noqa: F401

from cdrc_semantic_search_spark.functions import text as T  # noqa: F401
from cdrc_semantic_search_spark.functions import vector as V  # noqa: F401
from cdrc_semantic_search_spark.plans import value_oracles  # noqa: F401
from cdrc_semantic_search_spark.plans.catalog._core import (  # noqa: F401
    _SQL_SW_DE,
    _SQL_SW_EN,
    _SQL_SW_ES,
    _SQL_SW_FR,
    _SQL_TOKS,
    QueryDef,
    REGISTRY,
    _dec_sum,
    load,
    register,
)

# graph / canonicalization
# =====================================================================

@register(
    "cc_components",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_suppkey AS a, 1000 + l_partkey % 100 AS b
        FROM lineitem WHERE l_orderkey < 300
    ),
    sym(a, b) AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(n, m) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a
    )
    SELECT n AS id, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n
    """,
)
def cc_components(spark, sf_dir):
    """Connected components by a per-partition union-find forest and a
    one-task union-find finish (component = min reachable id) vs a DuckDB
    recursive-CTE transitive closure — the canonicalization kernel
    (SURVEY §4.3) cross-checked exactly."""
    from cdrc_semantic_search_spark.operators.canonicalize import connected_components

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("id_a"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("id_b"),
    ).distinct()
    return connected_components(edges).select("id", "component")


@register(
    "graph_component_sizes",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_suppkey AS a, 1000 + l_partkey % 2000 AS b
        FROM lineitem WHERE l_orderkey < 80
    ),
    sym(a, b) AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(n, m) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a
    ),
    labels AS (
        SELECT n AS id, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n
    ),
    sizes AS (
        SELECT component, COUNT(*) AS size FROM labels GROUP BY component
    )
    SELECT CAST(size AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components
    FROM sizes GROUP BY size
    """,
)
def graph_component_sizes(spark, sf_dir):
    """Component-size distribution: connected components → size per
    component → component count per size, the fragmentation health check
    on canonicalization output (a giant component plus dust is healthy; a
    flat distribution means the similarity threshold is too tight). Two
    cheap aggregations composed on the CC kernel's labels; the sparser %2000 bucket graph actually fragments (dozens of components across many sizes at sf0.01)."""
    from cdrc_semantic_search_spark.operators.canonicalize import connected_components

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 80")
    edges = li.select(
        F.col("l_suppkey").alias("id_a"),
        (F.lit(1000) + F.col("l_partkey") % 2000).alias("id_b"),
    ).distinct()
    labels = connected_components(edges)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("component_size"))
    return sizes.groupBy("component_size").agg(
        F.count(F.lit(1)).alias("n_components")
    )


@register(
    "cc_incremental",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_suppkey AS a, 1000 + l_partkey % 500 AS b
        FROM lineitem WHERE l_orderkey < 300
    ),
    sym(a, b) AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(n, m) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a
    )
    SELECT n AS id, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n
    """,
)
def cc_incremental(spark, sf_dir):
    """Incremental canonicalization maintenance: converge components on
    the first half of the edges, then fold the second half in with
    incremental_components — cost proportional to the NEW batch, never
    the full graph (the 10^12-mention regime, where labels are a
    materialized table and each micro-batch of high-similarity mention
    pairs patches it). The oracle is the recursive-CTE transitive closure
    over the UNION of both waves — incremental ≡ full rebuild, exactly."""
    from cdrc_semantic_search_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("id_a"),
        (F.lit(1000) + F.col("l_partkey") % 500).alias("id_b"),
        "l_orderkey",
    )
    wave1 = edges.filter("l_orderkey < 150").drop("l_orderkey").distinct()
    wave2 = edges.filter("l_orderkey >= 150").drop("l_orderkey").distinct()
    base = connected_components(wave1)
    return incremental_components(base, wave2).select("id", "component")


@register(
    "graph_scc",
    """
    WITH RECURSIVE e AS (
        SELECT l_suppkey AS a, 1000 + l_partkey % 80 AS b
        FROM lineitem WHERE l_orderkey < 200 AND l_returnflag = 'R'
        UNION
        SELECT 1000 + l_partkey % 80 AS a, l_suppkey AS b
        FROM lineitem WHERE l_orderkey < 200 AND l_returnflag = 'A'
    ),
    reach(n, m) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a
    ),
    v AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e),
    mutual AS (
        SELECT l.n AS id, l.m AS other
        FROM reach l JOIN reach r ON l.n = r.m AND l.m = r.n
    )
    SELECT v.id, COALESCE(LEAST(v.id, MIN(other)), v.id) AS scc_id
    FROM v LEFT JOIN mutual ON mutual.id = v.id
    GROUP BY v.id
    """,
)
def graph_scc(spark, sf_dir):
    """Strongly connected components over a DIRECTED supplier↔bucket
    graph (returned lines point supplier→bucket, accepted lines point
    back — the cyclic core models provenance loops a KG must flag).
    FB-trim min-label coloring (operators/graph) vs a DuckDB
    mutual-reachability oracle: two recursive transitive closures joined
    transposed. At sf0.01 the fixture is one 154-vertex cyclic core plus
    trivial fringe — trim settles the fringe without a flood."""
    from cdrc_semantic_search_spark.operators.graph import (
        strongly_connected_components,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200")
    fwd = li.filter("l_returnflag = 'R'").select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 80).alias("dst"),
    )
    bwd = li.filter("l_returnflag = 'A'").select(
        (F.lit(1000) + F.col("l_partkey") % 80).alias("src"),
        F.col("l_suppkey").alias("dst"),
    )
    return strongly_connected_components(fwd.unionByName(bwd))


@register(
    "graph_topo_layers",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT 1000 * l_linenumber + l_suppkey % 300 AS a,
               1000 * (l_linenumber + 1) + l_partkey % 300 AS b
        FROM lineitem WHERE l_orderkey < 400
    ),
    v AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e),
    roots AS (
        SELECT id FROM v WHERE id NOT IN (SELECT b FROM e)
    ),
    walk(id, d) AS (
        SELECT id, 0 FROM roots
        UNION
        SELECT e.b, walk.d + 1 FROM walk JOIN e ON e.a = walk.id
    )
    SELECT id, CAST(MAX(d) AS INT) AS layer FROM walk GROUP BY id
    """,
)
def graph_topo_layers(spark, sf_dir):
    """Topological layering (longest path from any root) over a
    line-number-leveled DAG — the dependency-ordering pass of a
    derivation graph (operators/graph.topo_layers, Kahn peel with one
    whole layer settled per round). The oracle walks every root-to-node
    path in a recursive CTE and takes MAX(d); the fixture is cycle-free
    by construction (edges always climb one level), so no layer is NULL
    — the cyclic branch is pinned in pytest instead."""
    from cdrc_semantic_search_spark.operators.graph import topo_layers

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 400")
    e = li.select(
        (F.lit(1000) * F.col("l_linenumber") + F.col("l_suppkey") % 300).alias(
            "src"
        ),
        (
            F.lit(1000) * (F.col("l_linenumber") + 1) + F.col("l_partkey") % 300
        ).alias("dst"),
    )
    return topo_layers(e)


@register(
    "graph_tree_depth",
    """
    WITH ids AS (
        SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS id
        FROM orders WHERE o_orderkey < 6000
    ),
    e AS (SELECT id AS c, id - 1 AS p FROM ids WHERE id % 1000 <> 0),
    v AS (SELECT c AS id FROM e UNION SELECT p FROM e)
    SELECT CAST(v.id AS BIGINT) AS id,
           CAST(v.id % 1000 AS INT) AS depth,
           CAST(v.id - v.id % 1000 AS BIGINT) AS root
    FROM v
    """,
)
def graph_tree_depth(spark, sf_dir):
    """Pointer-doubling depth/root over ~1000-deep provenance chains
    (operators/graph.tree_depth_doubling): dense ids 0..N-1 chained
    parent = id−1 with a chain break every 1000 — the DEEP case where
    the Kahn-peel family's O(depth·|E|) materialization bound bites and
    doubling finishes in ⌈log₂ depth⌉ ≈ 10 rounds instead of ~1000. The
    oracle exploits that depth/root are closed-form for this fixture
    (depth = id mod 1000, root = id − depth) — the closed form IS the
    chain semantics, so it pins the full (id, depth, root) triple; the
    randomized-forest and error branches are pytest-pinned. The global
    row_number is fixture construction, not operator shape."""
    from cdrc_semantic_search_spark.operators.graph import tree_depth_doubling

    ids = (
        load(spark, sf_dir, "orders")
        .filter("o_orderkey < 6000")
        .select(
            (
                F.row_number().over(Window.orderBy("o_orderkey")) - 1
            ).cast("bigint").alias("id")
        )
    )
    edges = ids.filter(F.col("id") % 1000 != 0).select(
        F.col("id").alias("child"), (F.col("id") - 1).alias("parent")
    )
    return tree_depth_doubling(edges).select(
        F.col("id").cast("bigint").alias("id"),
        "depth",
        F.col("root").cast("bigint").alias("root"),
    )


@register(
    "graph_bfs_distances",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_suppkey AS src, 1000 + l_partkey % 100 AS dst
        FROM lineitem WHERE l_orderkey < 300
    ),
    ue AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    walk(id, d) AS (
        SELECT MIN(src), 0 FROM e
        UNION
        SELECT ue.v, walk.d + 1
        FROM walk JOIN ue ON ue.u = walk.id
        WHERE walk.d < 6
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(MIN(d) AS INTEGER) AS dist
    FROM walk GROUP BY id
    """,
)
def graph_bfs_distances(spark, sf_dir):
    """Unweighted shortest paths (BFS frontier expansion,
    operators/graph.bfs_distances) from the smallest supplier over the
    same undirected supplier→bucket graph as cc_components, vs a DuckDB
    recursive-CTE walk capped at the same depth."""
    from cdrc_semantic_search_spark.operators.graph import bfs_distances

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    ).distinct()
    sources = edges.agg(F.min("src").alias("id"))
    out = bfs_distances(edges, sources, max_depth=6)
    return out.select(
        F.col("id").cast("long").alias("id"), F.col("dist").cast("int").alias("dist")
    )


@register(
    "graph_pagerank",
    """
    WITH e AS (
        SELECT DISTINCT l_suppkey AS src, 1000 + l_partkey % 100 AS dst
        FROM lineitem WHERE l_orderkey < 300
    ),
    v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM v),
    r1 AS (
        SELECT v.id,
               0.15 / (SELECT n FROM nn)
               + 0.85 * COALESCE(SUM(r0.rank / deg.outdeg), 0) AS rank
        FROM v LEFT JOIN e ON e.dst = v.id
               LEFT JOIN deg ON deg.src = e.src
               LEFT JOIN r0 ON r0.id = e.src
        GROUP BY v.id
    ),
    r2 AS (
        SELECT v.id,
               0.15 / (SELECT n FROM nn)
               + 0.85 * COALESCE(SUM(r1.rank / deg.outdeg), 0) AS rank
        FROM v LEFT JOIN e ON e.dst = v.id
               LEFT JOIN deg ON deg.src = e.src
               LEFT JOIN r1 ON r1.id = e.src
        GROUP BY v.id
    ),
    r3 AS (
        SELECT v.id,
               0.15 / (SELECT n FROM nn)
               + 0.85 * COALESCE(SUM(r2.rank / deg.outdeg), 0) AS rank
        FROM v LEFT JOIN e ON e.dst = v.id
               LEFT JOIN deg ON deg.src = e.src
               LEFT JOIN r2 ON r2.id = e.src
        GROUP BY v.id
    )
    SELECT id, ROUND(rank, 6) AS rank FROM r3
    """,
)
def graph_pagerank(spark, sf_dir):
    """Fixed-iteration (3) simplified PageRank over the same supplier→bucket
    graph as cc_components, hash-matched against a DuckDB oracle that
    unrolls the three iterations as chained CTEs (recursive CTEs cannot
    aggregate in the recursive member). The entity-importance consumer of
    the materialized kg_edges table (operators/graph.pagerank_fixed)."""
    from cdrc_semantic_search_spark.operators.graph import pagerank_fixed

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    # no .distinct() here: pagerank_fixed normalizes+distincts internally
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    out = pagerank_fixed(edges, n_iter=3, damping=0.85)
    return out.select("id", F.round("rank", 6).alias("rank"))


@register(
    "graph_triangles",
    """
    WITH e AS (
        SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS a,
                        GREATEST(a.l_suppkey, b.l_suppkey) AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        WHERE a.l_orderkey < 200 AND b.l_orderkey < 200
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangles(spark, sf_dir):
    """Triangle counting over the supplier co-occurrence graph (suppliers
    sharing an order are connected). Ordered-wedge formulation — each
    triangle found once as a < b < c (operators/graph.triangle_count);
    degree-orientation is the documented scale swap."""
    from cdrc_semantic_search_spark.operators.graph import triangle_count

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200").select(
        "l_orderkey", "l_suppkey"
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
    # no .distinct() here: triangle_count normalizes+distincts internally
    edges = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    )
    return triangle_count(edges)


@register(
    "graph_linkpred_scores",
    """
    WITH e0 AS (
        SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS a,
                        GREATEST(a.l_suppkey, b.l_suppkey) AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        WHERE a.l_orderkey < 200 AND b.l_orderkey < 200
    ),
    sym AS (SELECT a AS u, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT u AS vid, COUNT(*) AS deg FROM sym GROUP BY u),
    pairs AS (
        SELECT s1.u AS v, s2.u AS w, COUNT(*) AS common_cnt,
               SUM(1.0 / LN(d.deg)) AS aa
        FROM sym s1 JOIN sym s2 ON s1.n = s2.n AND s1.u < s2.u
             JOIN deg d ON d.vid = s1.n
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT p.* FROM pairs p
        WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = p.v AND e0.b = p.w)
    )
    SELECT n.v, n.w, CAST(n.common_cnt AS BIGINT) AS common_cnt,
           ROUND(n.common_cnt * 1.0 / (dv.deg + dw.deg - n.common_cnt), 6)
               AS jaccard,
           ROUND(n.aa, 6) AS adamic_adar
    FROM nonadj n JOIN deg dv ON dv.vid = n.v JOIN deg dw ON dw.vid = n.w
    """,
)
def graph_linkpred_scores(spark, sf_dir):
    """Link prediction over the supplier co-occurrence graph: score every
    non-adjacent supplier pair sharing ≥1 partner by common-neighbour
    count, Jaccard, and Adamic-Adar (operators/graph.link_prediction_scores)
    — the "suggest a missing relation" consumer of the materialized entity
    graph. Oracle unrolls the wedge join + anti-join in plain SQL."""
    from cdrc_semantic_search_spark.operators.graph import link_prediction_scores

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200").select(
        "l_orderkey", "l_suppkey"
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    )
    out = link_prediction_scores(edges)
    return out.select(
        "v",
        "w",
        "common_cnt",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
    )


@register(
    "graph_ppr_relatedness",
    """
    WITH e AS (
        SELECT DISTINCT l_suppkey AS src, 1000 + l_partkey % 100 AS dst
        FROM lineitem
        WHERE l_orderkey < 300 AND l_suppkey <> 1000 + l_partkey % 100
    ),
    seeds AS (SELECT * FROM (VALUES (1), (2), (3)) AS t(id)),
    v AS (SELECT src AS id FROM e UNION SELECT dst FROM e
          UNION SELECT id FROM seeds),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
    rs AS (
        SELECT v.id,
               CASE WHEN seeds.id IS NOT NULL THEN 1.0 / 3 ELSE 0.0 END AS s
        FROM v LEFT JOIN seeds ON seeds.id = v.id
    ),
    r0 AS (SELECT id, s AS rank FROM rs),
    r1 AS (
        SELECT rs.id, 0.15 * rs.s + 0.85 * COALESCE(agg.c, 0) AS rank
        FROM rs LEFT JOIN (
            SELECT e.dst AS id, SUM(r0.rank / deg.outdeg) AS c
            FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.id = e.src
            GROUP BY e.dst
        ) agg ON agg.id = rs.id
    ),
    r2 AS (
        SELECT rs.id, 0.15 * rs.s + 0.85 * COALESCE(agg.c, 0) AS rank
        FROM rs LEFT JOIN (
            SELECT e.dst AS id, SUM(r1.rank / deg.outdeg) AS c
            FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.id = e.src
            GROUP BY e.dst
        ) agg ON agg.id = rs.id
    ),
    r3 AS (
        SELECT rs.id, 0.15 * rs.s + 0.85 * COALESCE(agg.c, 0) AS rank
        FROM rs LEFT JOIN (
            SELECT e.dst AS id, SUM(r2.rank / deg.outdeg) AS c
            FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.id = e.src
            GROUP BY e.dst
        ) agg ON agg.id = rs.id
    )
    SELECT id, ROUND(rank, 6) AS rank FROM r3
    """,
)
def graph_ppr_relatedness(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from a 3-supplier
    seed set over the supplier→part-bucket graph — entity relatedness to a
    query set, the graph-expansion retrieval step after linking
    (operators/graph.personalized_pagerank). Oracle unrolls the three
    restart iterations as chained CTEs, like graph_pagerank."""
    from cdrc_semantic_search_spark.operators.graph import personalized_pagerank

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    seeds = spark.range(1, 4).select(F.col("id"))
    out = personalized_pagerank(edges, seeds, n_iter=3, damping=0.85)
    return out.select("id", F.round("rank", 6).alias("rank"))


def _kcore_oracle_sql(k: int = 2, rounds: int = 10) -> str:
    """Unrolled peeling oracle for graph_kcore: each CTE round recomputes
    within-survivor degrees and drops vertices below k. Peeling is
    idempotent once converged, so unrolling MORE rounds than the true
    peeling depth (7 at sf0.01) is safe — extra rounds are no-ops."""
    # AS MATERIALIZED: every round is referenced twice (both join sides);
    # DuckDB inlines plain CTEs, which would expand the chain 2^rounds-fold
    parts = [
        """
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS a, 10000 + l_partkey AS b
        FROM lineitem WHERE l_orderkey < 200
    ),
    sym AS MATERIALIZED (SELECT a AS u, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
    a0 AS MATERIALIZED (SELECT DISTINCT u FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    a{i} AS MATERIALIZED (
        SELECT u FROM (
            SELECT s.u, COUNT(*) AS d
            FROM sym s JOIN a{i - 1} x ON x.u = s.u
                       JOIN a{i - 1} y ON y.u = s.n
            GROUP BY s.u
        ) WHERE d >= {k}
    )"""
        )
    parts.append(
        f"""
    SELECT s.u AS id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM sym s JOIN a{rounds} x ON x.u = s.u
               JOIN a{rounds} y ON y.u = s.n
    GROUP BY s.u
    """
    )
    return "".join(parts)


@register("graph_kcore", _kcore_oracle_sql)
def graph_kcore(spark, sf_dir):
    """Maximal 2-core of the bipartite supplier↔part graph (l_orderkey
    < 200): peel weakly-connected vertices to fixpoint, keep each
    survivor's within-core degree (operators/graph.k_core) — the
    extraction-noise trim over materialized entity graphs. At sf0.01 the
    peel runs 7 rounds, 725 → 152 vertices; the oracle unrolls 10
    idempotent rounds of the same recurrence."""
    from cdrc_semantic_search_spark.operators.graph import k_core

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(10000) + F.col("l_partkey")).alias("dst"),
    )
    return k_core(edges, k=2)


@register(
    "mix_domain_weighted",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY CAST(('0x' || substr(md5('mix|' || doc_id), 1, 8))
                                 AS UBIGINT) % 10000,
                            doc_id
               ) AS rn
        FROM documents
        WHERE source IN ('src0', 'src1', 'src2')
    )
    SELECT doc_id, source FROM ranked
    WHERE rn <= CASE source WHEN 'src0' THEN 20
                            WHEN 'src1' THEN 12
                            WHEN 'src2' THEN 8
                            ELSE 0 END
    """,
)
def mix_domain_weighted(spark, sf_dir):
    """Deterministic domain mixing (operators/split.weighted_mix): a
    40-row corpus at 50/30/20 source composition, members chosen by
    md5-bucket rank so the mix is a pure function of doc_id — the
    pre-training composition step, reproducible on any engine (the
    oracle re-derives every member)."""
    from cdrc_semantic_search_spark.operators.split import weighted_mix

    d = load(spark, sf_dir, "documents")
    out = weighted_mix(
        d,
        "source",
        "doc_id",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total=40,
    )
    return out.select("doc_id", "source")


@register(
    "graph_degree_histogram",
    """
    WITH e AS (
        SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS a,
                        GREATEST(a.l_suppkey, b.l_suppkey) AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        WHERE a.l_orderkey < 200 AND b.l_orderkey < 200
    ),
    deg AS (
        SELECT u, COUNT(*) AS deg
        FROM (SELECT a AS u FROM e UNION ALL SELECT b FROM e)
        GROUP BY u
    )
    SELECT CAST(deg AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM deg GROUP BY deg
    """,
)
def graph_degree_histogram(spark, sf_dir):
    """Degree distribution of the supplier co-occurrence graph — the
    aggregation-of-an-aggregation shape (degree per vertex, then vertex
    count per degree) every graph health check starts with; hub skew
    shows up as the heavy tail. Two map-side-combined aggregations, the
    second over ≤max_degree rows."""
    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200").select(
        "l_orderkey", "l_suppkey"
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
    und = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("a"), F.col("sb").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("u"))
        .unionByName(und.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_vertices")
    )


def _ann_fixture(spark, sf_dir):
    """Shared ANN fixture for the ann_* queries: the deterministic
    training sample (vec_id < 256 SORTED — limit() would be
    partitioning-dependent), the 10 query vectors, and the corpus.
    One definition on purpose: several queries share VALUES oracles
    derived from these exact constants, so drift between copies would
    break a far-away hash at harness time."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    sample = np.array(
        [
            np.asarray(r["embedding"], dtype=np.float32)
            for r in e.filter("vec_id < 256").orderBy("vec_id").collect()
        ]
    )
    q = e.filter("vec_id < 10").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return sample, q, c


@register("ann_pq_topk", value_oracles.lazy("ann_pq_topk"))
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators/similarity.topk_pq_adc):
    the corpus scans as 8 one-byte codes per 64-dim vector (32×
    compression — the memory-side ANN lever, complementing IVF's
    candidate cut), queries resolve scores through broadcast lookup
    tables, each partition emits only its per-query top-k. Deterministic
    end-to-end (seeded per-subspace k-means on the sorted vec_id < 256
    sample; LUT kernel shared with the pure-NumPy twin so float32 sums
    are bit-identical), so the oracle is a VALUES literal; recall vs the
    exact scan is pinned in tests/test_ivf.py."""
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_pq_adc,
        train_pq_codebooks,
    )

    sample, q, c = _ann_fixture(spark, sf_dir)
    books = train_pq_codebooks(sample, m=8, k=16, seed=42)
    out = topk_pq_adc(spark, q, c, books, k=5)
    return out.select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")


@register("ann_ivfpq_topk", value_oracles.lazy("ann_ivfpq_topk"))
def ann_ivfpq_topk(spark, sf_dir):
    """IVF×PQ composition (operators/similarity.topk_ivfpq): coarse
    buckets cut WHICH candidates are scored, PQ codes cut WHAT each one
    costs — the standard billion-vector recipe, here as one map-only
    encode pass + broadcast LUT scan + one top-k window. Same shared
    deterministic kernels as ann_pq_topk, so the VALUES twin
    hash-matches; recall composes the two stages' pytest bounds."""
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_ivfpq,
        train_centroids,
        train_pq_codebooks,
    )

    sample, q, c = _ann_fixture(spark, sf_dir)
    cent = train_centroids(sample, n_centroids=16, seed=42)
    books = train_pq_codebooks(sample, m=8, k=16, seed=42)
    out = topk_ivfpq(spark, q, c, cent, books, k=5, n_probe=4)
    return out.select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")


@register("ann_pq_rerank", value_oracles.lazy("ann_pq_rerank"))
def ann_pq_rerank(spark, sf_dir):
    """Coarse-to-fine retrieval (operators/similarity.topk_pq_rerank):
    PQ-ADC shortlists 20 candidates per query over the compressed
    corpus, only their true vectors are fetched and re-ranked with the
    exact cosine — the production pattern that recovers what
    quantization loses while touching |q|·20 float vectors instead of
    the corpus. Output scores are EXACT cosines."""
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_pq_rerank,
        train_pq_codebooks,
    )

    sample, q, c = _ann_fixture(spark, sf_dir)
    books = train_pq_codebooks(sample, m=8, k=16, seed=42)
    out = topk_pq_rerank(spark, q, c, books, k=5, shortlist=20)
    return out.select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")


@register("ann_ivfpq_residual", value_oracles.lazy("ann_ivfpq_residual"))
def ann_ivfpq_residual(spark, sf_dir):
    """Residual IVF×PQ (operators/similarity.topk_ivfpq residual=True):
    the true FAISS-IVFPQ formulation — PQ codes quantize (unit − coarse
    centroid), scoring adds the analytic q·centroid term back. The same
    code budget then captures within-cluster detail plain PQ discards
    (recall comparison pinned in test_ivf). All kernels shared with the
    twin; VALUES oracle hash-exact."""
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_ivfpq,
        train_centroids,
        train_residual_codebooks,
    )

    sample, q, c = _ann_fixture(spark, sf_dir)
    cent = train_centroids(sample, n_centroids=16, seed=42)
    books = train_residual_codebooks(sample, cent, m=8, k=16, seed=42)
    out = topk_ivfpq(spark, q, c, cent, books, k=5, n_probe=4, residual=True)
    return out.select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")


# same oracle as ann_pq_topk ON PURPOSE: querying the materialized,
# upsert-maintained index must reproduce the direct-path result
# bit-for-bit (the kg_edges_incremental pattern, applied to the vector
# index lifecycle)
@register("ann_pq_index_roundtrip", value_oracles.lazy("ann_pq_topk"))
def ann_pq_index_roundtrip(spark, sf_dir):
    """Vector-index lifecycle (reference K1 upsert analog): codebooks +
    codes materialize through the catalog from HALF the corpus, the
    other half arrives later via upsert_pq_index (merge_upsert on id,
    codebooks fixed), and the query runs against the STORED index — the
    float corpus is never reopened at query time. Must hash EQUAL to
    ann_pq_topk's direct-path oracle."""
    import os
    import tempfile

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        topk_pq_adc_index,
        train_pq_codebooks,
        upsert_pq_index,
    )
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    sample, q, c = _ann_fixture(spark, sf_dir)
    books = train_pq_codebooks(sample, m=8, k=16, seed=42)
    # pid-suffixed path: repeated harness evaluations in one process
    # reuse it (each build's commit replaces the last), while CONCURRENT
    # runs (pytest + check_entry) never open each other's catalog — its
    # recovery at open assumes a single writer
    root = os.path.join(
        tempfile.gettempdir(), f"pq_index_fixture_{os.getuid()}_{os.getpid()}"
    )
    catalog = ParquetTableCatalog(root)
    materialize_pq_index(spark, catalog, c.filter("c_id < 250"), books)
    upsert_pq_index(spark, catalog, c.filter("c_id >= 250"))
    out = topk_pq_adc_index(spark, q, catalog, k=5)
    return out.select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")


def _sssp_oracle_sql(rounds: int = 6) -> str:
    """Unrolled Bellman-Ford oracle: each MATERIALIZED round merges the
    previous distances with one relaxation over the symmetrized weighted
    edge list (plain CTEs would inline 2^rounds-fold — the graph_kcore
    lesson). Integral weights keep every path sum exact in double."""
    parts = [
        """
    WITH e0 AS MATERIALIZED (
        SELECT l_suppkey AS s, 1000 + l_partkey % 100 AS t,
               MIN(l_quantity) AS w
        FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
        SELECT s AS src, t AS dst, w FROM e0
        UNION ALL
        SELECT t, s, w FROM e0
    ),
    d0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS DOUBLE) AS dist)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS id, d{i - 1}.dist + e.w AS dist
            FROM d{i - 1} JOIN e ON e.src = d{i - 1}.id
        ) GROUP BY id
    )"""
        )
    parts.append(f"""
    SELECT id, dist FROM d{rounds}
    """)
    return "".join(parts)


@register("graph_sssp_weighted", _sssp_oracle_sql)
def graph_sssp_weighted(spark, sf_dir):
    """Weighted single-source shortest paths (fixed-round Bellman-Ford,
    operators/graph.sssp_weighted) from supplier 1 over the symmetrized
    supplier↔bucket graph, edges weighted by cheapest quantity — the
    weighted companion of graph_bfs_distances. Path sums of integral
    weights are exact in double, so the unrolled oracle matches
    bit-for-bit with no rounding."""
    from cdrc_semantic_search_spark.operators.graph import sssp_weighted

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    fwd = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
        F.col("l_quantity").alias("w"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    sources = spark.range(1, 2).select(F.col("id"))
    return sssp_weighted(edges, sources, n_rounds=6)


def _lpa_cte_parts(rounds: int = 4) -> list[str]:
    """Shared unrolled-LPA CTE prefix (ends at l{rounds}) for the
    graph_label_prop and graph_modularity oracles."""
    parts = [
        """
    WITH raw AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, 1000 + l_partkey % 100 AS d
        FROM lineitem WHERE l_orderkey < 300
    ),
    e AS MATERIALIZED (
        SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        FROM raw WHERE s <> d
    ),
    sym AS MATERIALIZED (
        SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT v AS id, v AS label FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    c{i} AS MATERIALIZED (
        SELECT id, label, COUNT(*) AS c FROM (
            SELECT sym.v AS id, l{i - 1}.label AS label
            FROM sym JOIN l{i - 1} ON l{i - 1}.id = sym.n
            UNION ALL
            SELECT id, label FROM l{i - 1}
        ) GROUP BY id, label
    ),
    l{i} AS MATERIALIZED (
        SELECT id, label FROM (
            SELECT id, label, ROW_NUMBER() OVER (
                PARTITION BY id ORDER BY c DESC, label ASC
            ) AS rn FROM c{i}
        ) WHERE rn = 1
    )"""
        )
    return parts


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """Unrolled synchronous label-propagation oracle: each MATERIALIZED
    round re-derives every vertex's label as the most frequent label
    among neighbors + self, ties to the smallest label (ROW_NUMBER
    mirrors the Spark max-of-(count,-label) aggregation exactly —
    integer-only, no float hazard)."""
    parts = _lpa_cte_parts(rounds)
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label FROM l{rounds}
    """)
    return "".join(parts)


def _modularity_oracle_sql(rounds: int = 4) -> str:
    """Modularity of the unrolled-LPA labeling. The per-community sums
    are INTEGER aggregates (intra edge count, Σ d_c²) so the only float
    ops are the final two divisions and one subtraction — the identical
    expression the Spark operator evaluates, bit-for-bit."""
    parts = _lpa_cte_parts(rounds)
    parts.append(f"""
    , lab AS MATERIALIZED (SELECT id, label FROM l{rounds}),
    tagged AS (
        SELECT e.a, e.b, la.label AS la, lb.label AS lb
        FROM e JOIN lab la ON la.id = e.a JOIN lab lb ON lb.id = e.b
    ),
    mi AS (
        SELECT COUNT(*) AS m_edges,
               COUNT(*) FILTER (WHERE la = lb) AS intra_edges
        FROM tagged
    ),
    deg AS (SELECT v, COUNT(*) AS deg FROM sym GROUP BY v),
    dc AS (
        SELECT lab.label, SUM(deg.deg) AS d_c
        FROM deg JOIN lab ON lab.id = deg.v GROUP BY lab.label
    ),
    ss AS (SELECT SUM(d_c * d_c) AS sum_deg_sq FROM dc)
    SELECT CAST(m_edges AS BIGINT) AS m_edges,
           CAST(intra_edges AS BIGINT) AS intra_edges,
           CAST(sum_deg_sq AS BIGINT) AS sum_deg_sq,
           CAST(intra_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)
           - CAST(sum_deg_sq AS DOUBLE)
             / (4.0 * CAST(m_edges AS DOUBLE) * CAST(m_edges AS DOUBLE))
             AS modularity
    FROM mi, ss
    """)
    return "".join(parts)


def _conductance_oracle_sql(rounds: int = 4) -> str:
    """Per-community conductance of the unrolled-LPA labeling: integer
    cut/volume aggregates, one guarded exact division (cut 0 → 0.0)."""
    parts = _lpa_cte_parts(rounds)
    parts.append(f"""
    , lab AS MATERIALIZED (SELECT id, label FROM l{rounds}),
    tagged AS (
        SELECT la.label AS la, lb.label AS lb
        FROM e JOIN lab la ON la.id = e.a JOIN lab lb ON lb.id = e.b
    ),
    cuts AS (
        SELECT label, COUNT(*) AS cut_edges FROM (
            SELECT la AS label FROM tagged WHERE la <> lb
            UNION ALL SELECT lb FROM tagged WHERE la <> lb
        ) GROUP BY label
    ),
    deg AS (SELECT v, COUNT(*) AS deg FROM sym GROUP BY v),
    vol AS (
        SELECT lab.label, COUNT(*) AS n_nodes, SUM(deg.deg) AS volume
        FROM deg JOIN lab ON lab.id = deg.v GROUP BY lab.label
    ),
    tot AS (SELECT SUM(volume) AS total_vol FROM vol)
    SELECT CAST(vol.label AS BIGINT) AS label,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(cut_edges, 0) AS BIGINT) AS cut_edges,
           CAST(volume AS BIGINT) AS volume,
           CASE WHEN COALESCE(cut_edges, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(cut_edges, 0) AS DOUBLE)
                     / CAST(LEAST(volume, (SELECT total_vol FROM tot) - volume) AS DOUBLE)
           END AS conductance
    FROM vol LEFT JOIN cuts ON cuts.label = vol.label
    """)
    return "".join(parts)


@register("graph_conductance", _conductance_oracle_sql)
def graph_conductance(spark, sf_dir):
    """Per-community conductance of the 4-round LPA labeling
    (operators/graph.community_conductance) — the per-community quality
    gate beside global modularity; integer cut/volume, guarded exact
    division, no rounding."""
    from cdrc_semantic_search_spark.operators.graph import (
        community_conductance,
        label_propagation,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    labels = label_propagation(edges, n_rounds=4)
    out = community_conductance(edges, labels)
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("cut_edges").cast("long").alias("cut_edges"),
        F.col("volume").cast("long").alias("volume"),
        "conductance",
    )


@register("graph_label_prop", _lpa_oracle_sql)
def graph_label_prop(spark, sf_dir):
    """Label-propagation communities (operators/graph.label_propagation,
    4 synchronous rounds, self-vote, min-label ties) over the same
    supplier↔bucket graph as graph_pagerank — the entity-community
    assignment stage downstream of kg_edges materialization. The oracle
    unrolls the four rounds as MATERIALIZED CTEs (the graph_kcore
    inlining lesson) and is exact: the update rule is integer-only."""
    from cdrc_semantic_search_spark.operators.graph import label_propagation

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    out = label_propagation(edges, n_rounds=4)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("label").cast("long").alias("label"),
    )


@register("graph_modularity", _modularity_oracle_sql)
def graph_modularity(spark, sf_dir):
    """Newman modularity of the 4-round LPA labeling over the
    supplier↔bucket graph (operators/graph.modularity) — the quality
    gate for community output. Integer aggregates hoisted so the float
    tail is three exact ops; no rounding needed."""
    from cdrc_semantic_search_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    labels = label_propagation(edges, n_rounds=4)
    return modularity(edges, labels)


_BURST_ORACLE_SQL = """
    WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    win AS (
        SELECT key, day, cnt,
               COALESCE(SUM(cnt) OVER (
                   PARTITION BY key ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
               ), 0) AS sum_prev,
               COUNT(*) OVER (
                   PARTITION BY key ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
               ) AS n_prev
        FROM daily
    )
    SELECT key, day, CAST(cnt AS BIGINT) AS cnt,
           CAST(sum_prev AS BIGINT) AS sum_prev,
           (n_prev = 3 AND cnt * 2 * 3 > 3 * sum_prev) AS is_burst
    FROM win
"""


@register("t5_burst_detection", _BURST_ORACLE_SQL)
def t5_burst_detection(spark, sf_dir):
    """Daily activity-burst detection per event_type
    (operators/temporal.burst_detection): a day bursts when its count
    beats 1.5× the mean of the 3 preceding observed days — integer-only
    inequality (cnt·2·3 > 3·sum_prev), cold-start days are explicit
    is_burst = false rows. The temporal-KG consumer: edge-activity spike
    detection on kg_edges_temporal."""
    from cdrc_semantic_search_spark.operators.temporal import burst_detection

    ev = load(spark, sf_dir, "events")
    return burst_detection(ev, "event_type", trailing=3, num=3, den=2)


@register("graph_random_walks", value_oracles.lazy("graph_random_walks"))
def graph_random_walks(spark, sf_dir):
    """Deterministic truncated random walks (operators/graph.random_walks;
    hash-routed next hops over sorted adjacency — node2vec/DeepWalk
    corpus generation for graph-embedding training). Oracle: pure-Python
    twin sharing zlib.crc32 == Spark F.crc32 (java.util.zip.CRC32, same
    polynomial) over the sf0.01 parquet; candidate adjacency re-derived
    independently (dict-of-sorted-lists, never the distributed join)."""
    from cdrc_semantic_search_spark.operators.graph import random_walks

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    out = random_walks(edges, walk_length=4, n_walks=2, seed=42)
    return out.select(
        "walk_id", F.col("step").cast("int").alias("step"),
        F.col("node").cast("long").alias("node"),
    )


@register("graph_walk_pairs", value_oracles.lazy("graph_walk_pairs"))
def graph_walk_pairs(spark, sf_dir):
    """Skip-gram positive pairs from the deterministic random walks
    (operators/graph.walk_skipgram_pairs, window=2) — the
    embedding-training positives the walk corpus exists to produce.
    Oracle: plain-dict pair counting over the shared walk-simulation
    twin."""
    from cdrc_semantic_search_spark.operators.graph import (
        random_walks,
        walk_skipgram_pairs,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    walks = random_walks(edges, walk_length=4, n_walks=2, seed=42)
    out = walk_skipgram_pairs(walks, window=2)
    return out.select(
        F.col("center").cast("long").alias("center"),
        F.col("context").cast("long").alias("context"),
        "n_pairs",
    )


@register(
    "t6_decayed_activity",
    """
    WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(day) AS as_of FROM daily),
    aged AS (
        SELECT key, cnt,
               LEAST(datediff('day', day, (SELECT as_of FROM mx)), 25) AS age
        FROM daily
    )
    SELECT key,
           SUM(cnt * POWER(2.0, -(CAST(age AS DOUBLE) / 1.0))) AS decayed,
           CAST(SUM(cnt) AS BIGINT) AS total_cnt
    FROM aged GROUP BY key
    """,
)
def t6_decayed_activity(spark, sf_dir):
    """Exponentially time-decayed activity per event_type
    (operators/temporal.decayed_activity, halflife 1 day, age cap 25):
    the recency-weighted importance signal. The double SUM is pinned
    WITHOUT rounding — dyadic terms keep every partial sum exact (see
    the operator's float-discipline note), so engine/partitioning
    summation order cannot move a bit."""
    from cdrc_semantic_search_spark.operators.temporal import decayed_activity

    ev = load(spark, sf_dir, "events")
    return decayed_activity(ev, "event_type", halflife_days=1, max_age_days=25)


@register(
    "graph_sparsify_topk",
    """
    WITH e AS (
        SELECT LEAST(l_suppkey, 1000 + l_partkey % 100) AS src,
               GREATEST(l_suppkey, 1000 + l_partkey % 100) AS dst,
               COUNT(*) AS weight
        FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2
    ),
    bi AS (
        SELECT src AS s, dst AS d, weight AS w FROM e
        UNION ALL SELECT dst, src, weight FROM e
    ),
    r AS (
        SELECT s, d, w,
               ROW_NUMBER() OVER (PARTITION BY s ORDER BY w DESC, d ASC) AS rn
        FROM bi
    )
    SELECT DISTINCT CAST(LEAST(s, d) AS BIGINT) AS src,
           CAST(GREATEST(s, d) AS BIGINT) AS dst,
           CAST(w AS BIGINT) AS weight
    FROM r WHERE rn <= 3
    """,
)
def graph_sparsify_topk(spark, sf_dir):
    """Top-3 strongest incident edges per node
    (operators/graph.sparsify_topk_edges) over the weighted
    supplier↔bucket graph — the degree-bounding pre-processing for
    wedge-join algorithms; edge survives if either endpoint ranks it."""
    from cdrc_semantic_search_spark.operators.graph import sparsify_topk_edges

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 300")
    edges = (
        li.select(
            F.least(
                F.col("l_suppkey"), F.lit(1000) + F.col("l_partkey") % 100
            ).alias("src"),
            F.greatest(
                F.col("l_suppkey"), F.lit(1000) + F.col("l_partkey") % 100
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    out = sparsify_topk_edges(edges, k=3)
    return out.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("weight").cast("long").alias("weight"),
    )


@register(
    "graph_clustering_coeff",
    """
    WITH raw AS (
        SELECT DISTINCT l_suppkey AS s, 1000 + l_partkey % 100 AS d
        FROM lineitem WHERE l_orderkey < 200
    ),
    e AS (
        SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        FROM raw WHERE s <> d
    ),
    tris AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
        SELECT x AS id FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris
    ),
    t AS (SELECT id, COUNT(*) AS tri_cnt FROM corners GROUP BY id),
    deg AS (
        SELECT id, COUNT(*) AS deg FROM (
            SELECT a AS id FROM e UNION ALL SELECT b FROM e
        ) GROUP BY id
    )
    SELECT CAST(deg.id AS BIGINT) AS id, CAST(deg AS BIGINT) AS deg,
           CAST(COALESCE(tri_cnt, 0) AS BIGINT) AS tri_cnt,
           CASE WHEN deg < 2 THEN 0.0
                ELSE (2.0 * CAST(COALESCE(tri_cnt, 0) AS DOUBLE))
                     / CAST(deg * (deg - 1) AS DOUBLE) END AS coeff
    FROM deg LEFT JOIN t ON t.id = deg.id
    """,
)
def graph_clustering_coeff(spark, sf_dir):
    """Per-vertex local clustering coefficients
    (operators/graph.clustering_coefficients) over the supplier↔bucket
    graph — int/int division in double, bit-agreed across engines, no
    rounding."""
    from cdrc_semantic_search_spark.operators.graph import (
        clustering_coefficients,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    out = clustering_coefficients(edges)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("deg").cast("long").alias("deg"),
        F.col("tri_cnt").cast("long").alias("tri_cnt"),
        "coeff",
    )


@register(
    "kg_cluster_representatives",
    value_oracles.lazy("kg_cluster_representatives"),
)
def kg_cluster_representatives(spark, sf_dir):
    """Display-form selection per surface cluster
    (KGPipeline.cluster_representatives): most-mentioned member wins,
    ties to the smallest surface — the consumer-facing canonicalization
    output on top of surface_clusters. Twin: shared derivation with the
    kg_canon_quality twin + plain-dict argmax."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities)
    men = pipe.mentions(tdf)
    return pipe.cluster_representatives(men)


@register("kg_meta_paths", value_oracles.lazy("kg_meta_paths"))
def kg_meta_paths(spark, sf_dir):
    """Typed relation-composition statistics: every composable
    a→[p1]→mid→[p2]→c path (a≠c) rolled up per (pred1, pred2) —
    n_paths, Σ w1·w2, distinct endpoint pairs. The schema-discovery
    query KG curators run to find which predicate compositions carry
    signal (e.g. uses_tool ∘ located_in). One midpoint-keyed self-join
    of the typed edge rollup + one aggregation whose key space is
    |preds|² — broadcast-small at any corpus size."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities)
    e = pipe.kg_edges(pipe.triples(tdf)).select(
        F.col("subj_entity_id").alias("a"),
        F.col("pred"),
        F.col("obj_entity_id").alias("b"),
        F.col("weight").alias("w"),
    )
    e1 = e.select(
        F.col("a"), F.col("pred").alias("pred1"),
        F.col("b").alias("mid"), F.col("w").alias("w1"),
    )
    e2 = e.select(
        F.col("a").alias("mid"), F.col("pred").alias("pred2"),
        F.col("b").alias("c"), F.col("w").alias("w2"),
    )
    return (
        e1.join(e2, "mid")
        .filter(F.col("a") != F.col("c"))
        .groupBy("pred1", "pred2")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.sum(F.col("w1") * F.col("w2")).alias("path_weight"),
            F.count_distinct(F.col("a"), F.col("c")).alias("n_pairs"),
        )
    )


@register("kg_graph_diff", value_oracles.lazy("kg_graph_diff"))
def kg_graph_diff(spark, sf_dir):
    """Temporal graph diff (KGPipeline.edge_diff): the fixture's triples
    split at 2026-05-01 into two observation windows, per-window
    kg_edges rollups full-outer diffed — added/removed/changed/stable
    relations, the re-canon/trend trigger feed. Twin: plain-dict window
    rollups + diff."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities)
    tr = pipe.triples(tdf)
    split = F.lit("2026-05-01").cast("timestamp")
    old = pipe.kg_edges(tr.filter(F.col("ts") < split)).drop(
        "first_ts", "last_ts"
    )
    new = pipe.kg_edges(tr.filter(F.col("ts") >= split)).drop(
        "first_ts", "last_ts"
    )
    return KGPipeline.edge_diff(old, new)


@register("kg_entity_communities", value_oracles.lazy("kg_entity_communities"))
def kg_entity_communities(spark, sf_dir):
    """The KG consumer of label propagation end-to-end:
    KGPipeline.entity_communities over the fixture's materialized
    kg_edges (STRING entity ids — the path the numeric graph_label_prop
    oracle can't exercise), permissive modularity floor. Twin: plain-dict
    synchronous LPA over the fixture-triples edge rollup."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities)
    edges = pipe.kg_edges(pipe.triples(tdf))
    return pipe.entity_communities(edges, min_modularity=-1.0)


@register(
    "kg_entity_communities_weighted",
    value_oracles.lazy("kg_entity_communities_weighted"),
)
def kg_entity_communities_weighted(spark, sf_dir):
    """Weight-proportional LPA over the fixture's kg_edges
    (entity_communities(weighted=True)): a 40-triple relation out-votes
    a 1-triple one. Twin: plain-dict weighted LPA over per-pair triple
    multiplicities."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities)
    edges = pipe.kg_edges(pipe.triples(tdf))
    return pipe.entity_communities(edges, weighted=True)


@register("graph_node2vec_walks", value_oracles.lazy("graph_node2vec_walks"))
def graph_node2vec_walks(spark, sf_dir):
    """Second-order biased walks (operators/graph.random_walks_node2vec,
    p=2 q=3: backtracking discouraged, BFS-leaning) over the same
    supplier↔bucket graph as graph_random_walks — weighted hop selection
    is a single Catalyst aggregate over integer pq-scaled weights, no
    UDF. Oracle: pure-Python twin over the shared adjacency + crc32."""
    from cdrc_semantic_search_spark.operators.graph import (
        random_walks_node2vec,
    )

    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 200")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
    )
    out = random_walks_node2vec(
        edges, walk_length=4, n_walks=1, seed=42, p=2, q=3
    )
    return out.select(
        "walk_id", F.col("step").cast("int").alias("step"),
        F.col("node").cast("long").alias("node"),
    )


@register("kg_triples_fixture", value_oracles.lazy("kg_triples_fixture"))
def kg_triples_fixture(spark, sf_dir):
    """The KG pipeline end-to-end on the deterministic transcript fixture.
    The oracle is a VALUES literal from the single-process pure-pandas
    pipeline twin (oracle.oracle_triples — the same twin the P/R parity
    pytest pins in tests/test_kg_parity.py)."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    # score rounds to 4 decimals: the fused op links unknown surfaces in
    # per-Arrow-batch encoder calls, so the blend score carries float32
    # batch-composition noise (~1e-7) vs the one-at-a-time oracle; every
    # fixture score sits ≥1.8e-6 from a 4-digit rounding boundary
    # (value_oracles.py), so the rounded value is partition-invariant
    return pipe.triples(tdf).drop("ts").withColumn("score", F.round("score", 4))


@register("kg_edges_fixture", value_oracles.lazy("kg_edges_fixture"))
def kg_edges_fixture(spark, sf_dir):
    """kg_edges materialization over the fixture; VALUES oracle from the
    pandas rollup of the pure-Python triple twin."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    return pipe.kg_edges(pipe.triples(tdf)).drop("first_ts", "last_ts")


# same oracle as kg_edges_fixture ON PURPOSE: incremental maintenance must
# reproduce the full rebuild bit-for-bit
@register("kg_edges_incremental", value_oracles.lazy("kg_edges_fixture"))
def kg_edges_incremental(spark, sf_dir):
    """Incremental edge maintenance (KGPipeline.merge_edge_deltas): the
    fixture's conversations split into two batches, each rolled up
    separately, then MERGED — must hash EQUAL to the full-rebuild oracle
    (merge(kg_edges(A), kg_edges(B)) ≡ kg_edges(A ∪ B)), which is the
    invariant per-partition ledger commits rely on at 10^12 turns."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    # no persist: the harness collects after return, so a cached frame
    # could never be unpersisted; at fixture scale recomputing the two
    # batch filters is cheaper than pinning blocks for the whole run
    triples = pipe.triples(tdf)
    batch_a = pipe.kg_edges(triples.filter(F.col("conv_id") < "conv_000020"))
    batch_b = pipe.kg_edges(triples.filter(F.col("conv_id") >= "conv_000020"))
    return KGPipeline.merge_edge_deltas(batch_a, batch_b).drop(
        "first_ts", "last_ts"
    )


@register("kg_nodes_fixture", value_oracles.lazy("kg_nodes_fixture"))
def kg_nodes_fixture(spark, sf_dir):
    """Node table over the deterministic fixture (KGPipeline.kg_nodes):
    entity dim enriched with linked-mention counts; oracle is the
    single-process extract+link twin (plans/value_oracles.py)."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    return pipe.kg_nodes(pipe.mentions(tdf))


# same oracle as kg_nodes_fixture ON PURPOSE (see kg_edges_incremental)
@register("kg_nodes_incremental", value_oracles.lazy("kg_nodes_fixture"))
def kg_nodes_incremental(spark, sf_dir):
    """Incremental node maintenance (KGPipeline.merge_node_deltas): the
    fixture's conversations split into two batches, each counted
    separately, then MERGED — must hash EQUAL to the full-rebuild
    oracle.  Note both batches carry the full dim with zero counts for
    unseen entities, so the merge must not double anything."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    mentions = pipe.mentions(tdf)  # no persist — see kg_edges_incremental
    batch_a = pipe.kg_nodes(mentions.filter(F.col("conv_id") < "conv_000020"))
    batch_b = pipe.kg_nodes(mentions.filter(F.col("conv_id") >= "conv_000020"))
    return KGPipeline.merge_node_deltas(batch_a, batch_b)


# same oracle as kg_edges_fixture ON PURPOSE: the ledgered path must
# reproduce the full rebuild
@register("kg_edges_ledgered", value_oracles.lazy("kg_edges_fixture"))
def kg_edges_ledgered(spark, sf_dir):
    """End-to-end resumable materialization: run_partitioned(with_graph)
    commits per-bucket triples + edge/node DELTAS through the ledger into
    a fresh temp catalog, then compacted_edges() recovers the edge table
    merge-on-read — must hash EQUAL to the full-rebuild oracle.  This is
    the log-structured commit path 10^12-turn runs use: no
    read-modify-write, every bucket an idempotent partition overwrite."""
    import os
    import tempfile

    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import PipelineSettings, Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    settings = Settings(pipeline=PipelineSettings(num_buckets=4))
    pipe = KGPipeline(spark, fx.entities, settings)
    # fixed per-user path, not mkdtemp: repeated harness evaluations reuse
    # the committed catalog (the ledger makes the second run a no-op
    # resume) instead of leaking a fresh directory per call
    root = os.path.join(
        tempfile.gettempdir(), f"kg_ledger_fixture_{os.getuid()}"
    )
    catalog = ParquetTableCatalog(root)
    pipe.run_partitioned(tdf, catalog, source_snapshot="seed42", with_graph=True)
    return KGPipeline.compacted_edges(spark, catalog).drop("first_ts", "last_ts")


@register("kg_edges_temporal", value_oracles.lazy("kg_edges_temporal"))
def kg_edges_temporal(spark, sf_dir):
    """Temporal knowledge graph: the kg_edges rollup WITH its activity
    span ([first_ts, last_ts] per edge) — the validity-interval view that
    time-scoped queries ("what did we know about X in March") filter on.
    Twin recomputes the span from the pure-Python triples joined back to
    turn timestamps; TIMESTAMP literals ride the VALUES oracle."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    return pipe.kg_edges(pipe.triples(tdf))


@register("kg_two_hop_paths", value_oracles.lazy("kg_two_hop_paths"))
def kg_two_hop_paths(spark, sf_dir):
    """Relation composition over the fixture graph: collapse edges across
    predicates to (subj, obj, w), then one self-join on the midpoint
    gives every a→mid→c path (a≠c) with n_mids distinct midpoints and
    path_weight = Σ w1·w2 — the 2-hop reachability query KG consumers
    run for indirect-association mining. One key-partitioned self-join +
    one aggregation; the twin enumerates paths in plain dicts."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    # no persist: the harness collects after return (see kg_edges_incremental);
    # at fixture scale recomputing the collapsed edge agg per join branch is
    # cheaper than pinning blocks for the whole run
    e = (
        pipe.triples(tdf)
        .groupBy(
            F.col("subj_entity_id").alias("a"),
            F.col("obj_entity_id").alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    e1 = e.select(F.col("a"), F.col("c").alias("mid"), F.col("w").alias("w1"))
    e2 = e.select(F.col("a").alias("mid"), F.col("c"), F.col("w").alias("w2"))
    return (
        e1.join(e2, "mid")
        .filter(F.col("a") != F.col("c"))
        .groupBy(
            F.col("a").alias("subj_entity_id"),
            F.col("c").alias("obj_entity_id"),
        )
        .agg(
            F.countDistinct("mid").alias("n_mids"),
            F.sum(F.col("w1") * F.col("w2")).alias("path_weight"),
        )
    )


@register(
    "doc_mad_outliers",
    """
    WITH med AS (
        SELECT source, quantile_cont(n_chars, 0.5) AS med_chars
        FROM documents GROUP BY source
    ),
    dev AS (
        SELECT d.source, d.n_chars, m.med_chars,
               ABS(d.n_chars - m.med_chars) AS absdev
        FROM documents d JOIN med m ON m.source = d.source
    ),
    mad AS (
        SELECT source, quantile_cont(absdev, 0.5) AS mad_chars FROM dev GROUP BY source
    )
    SELECT dev.source,
           CAST(ANY_VALUE(dev.med_chars) AS DOUBLE) AS med_chars,
           CAST(ANY_VALUE(mad.mad_chars) AS DOUBLE) AS mad_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dev.absdev > 3 * mad.mad_chars
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON mad.source = dev.source
    GROUP BY dev.source
    """,
)
def doc_mad_outliers(spark, sf_dir):
    """Robust outlier detection for curation: per-source median absolute
    deviation of document length, counting docs beyond 3·MAD — the
    outlier filter that, unlike mean±k·σ, a single 100 MB page dump
    cannot drag. Two grouped exact percentiles (interpolated identically
    by Spark's percentile and DuckDB's quantile_cont — the a7 invariant)
    with broadcast joins back onto the facts; every derived double is
    exact (integer inputs, .5 interpolation), so no rounding is needed."""
    d = load(spark, sf_dir, "documents").select("source", "n_chars")
    med = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med_chars")
    )
    dev = d.join(F.broadcast(med), "source").withColumn(
        "absdev", F.abs(F.col("n_chars") - F.col("med_chars"))
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad_chars")
    )
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.first("med_chars").alias("med_chars"),
            F.first("mad_chars").alias("mad_chars"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("absdev") > 3 * F.col("mad_chars"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@register(
    "t4_gap_fill_locf",
    """
    WITH obs AS (
        SELECT user_id AS g, date_trunc('hour', ts) AS bucket_ts,
               MAX(value) AS value
        FROM events WHERE user_id < 3 AND value IS NOT NULL
        GROUP BY 1, 2
    ),
    spans AS (
        SELECT g, MIN(bucket_ts) AS t0, MAX(bucket_ts) AS t1 FROM obs GROUP BY g
    ),
    spine AS (
        SELECT g, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket_ts
        FROM spans
    )
    SELECT s.g AS user_id, CAST(s.bucket_ts AS TIMESTAMP) AS bucket_ts,
           LAST_VALUE(o.value IGNORE NULLS) OVER (
               PARTITION BY s.g ORDER BY s.bucket_ts ROWS UNBOUNDED PRECEDING
           ) AS value,
           o.value IS NULL AS is_gap
    FROM spine s LEFT JOIN obs o ON o.g = s.g AND o.bucket_ts = s.bucket_ts
    """,
)
def t4_gap_fill_locf(spark, sf_dir):
    """Time-series gap fill (operators/temporal.gap_fill_locf): one row
    per hour per user over each user's observed span, gaps filled by
    last-observation-carried-forward — the resample step between raw
    event tables and anything that assumes a regular grid. The bucket
    spine is generated DISTRIBUTED (sequence+explode per group), never a
    driver loop; oracle uses generate_series + IGNORE NULLS window."""
    from cdrc_semantic_search_spark.operators.temporal import gap_fill_locf

    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 3) & F.col("value").isNotNull()
    )
    return gap_fill_locf(ev, "user_id", "ts", "value", unit="1 hour")


@register(
    "skew3_salted_join",
    """
    WITH dim AS (
        SELECT event_type,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 8) AS DOUBLE)
                   / COUNT(value) AS type_avg
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, dim.type_avg
    FROM events e JOIN dim ON dim.event_type = e.event_type
    WHERE e.event_id < 5000
    """,
)
def skew3_salted_join(spark, sf_dir):
    """Salted hot-key equi-join (operators/assembly.salted_join): every
    event key is hot (a handful of event types over the whole fact
    table), so the fact side salts into 8 lanes keyed on event_id and
    the dim side replicates — identical rows to the plain join (the
    oracle), but the exchange spreads each hot key over 8 reducers.
    The manual fallback where AQE skew-join can't rewrite (stream-static)
    or the dim side is too big to broadcast."""
    from cdrc_semantic_search_spark.operators.assembly import salted_join

    ev = load(spark, sf_dir, "events")
    # exact cross-engine mean: decimal sum → ROUND(,8) → double ÷ count
    # (a double AVG's value depends on accumulation order)
    dim = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            (
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 8)
                .cast("double")
                / F.count("value")
            ).alias("type_avg")
        )
    )
    fact = ev.filter(F.col("event_id") < 5000).select("event_id", "event_type")
    out = salted_join(fact, dim, ["event_type"], 8, ["event_id"])
    return out.select("event_id", "event_type", "type_avg")


@register("kg_type_assortativity", value_oracles.lazy("kg_type_assortativity"))
def kg_type_assortativity(spark, sf_dir):
    """Type-pair mixing matrix: triple counts per (subject type, object
    type) — the schema-level health check on an extracted KG (a spike in
    tool→tool 'located_in' edges means the linker drifted). Two broadcast
    joins of the tiny entity dim onto the triples, one aggregation."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    triples = pipe.triples(tdf)
    edim = spark.createDataFrame(
        fx.entities[["entity_id", "entity_type"]]
    )
    st = edim.select(
        F.col("entity_id").alias("subj_entity_id"),
        F.col("entity_type").alias("subj_type"),
    )
    ot = edim.select(
        F.col("entity_id").alias("obj_entity_id"),
        F.col("entity_type").alias("obj_type"),
    )
    return (
        triples.join(F.broadcast(st), "subj_entity_id")
        .join(F.broadcast(ot), "obj_entity_id")
        .groupBy("subj_type", "obj_type")
        .agg(F.count(F.lit(1)).alias("n_triples"))
    )


@register("kg_negative_samples", value_oracles.lazy("kg_negative_samples"))
def kg_negative_samples(spark, sf_dir):
    """Deterministic TransE-style negative sampling over the fixture edge
    set (operators/graph.negative_sample_edges): 2 md5-picked corrupted
    tails per positive edge, broadcast-joined against the sorted entity
    dim and anti-joined against the positives — the KG-embedding training
    data generator, reproducible on any engine."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.operators.graph import negative_sample_edges
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    edges = pipe.kg_edges(pipe.triples(tdf)).select(
        "subj_entity_id", "pred", "obj_entity_id"
    )
    ents = sorted(fx.entities.entity_id.tolist())
    edim = spark.createDataFrame(
        [(i, e) for i, e in enumerate(ents)], "idx long, entity_id string"
    )
    out = negative_sample_edges(edges, edim, k=2)
    return out.select(
        "subj_entity_id",
        "pred",
        "obj_entity_id",
        F.col("neg_idx").cast("int").alias("neg_idx"),
    )


@register("kg_type_constraints", value_oracles.lazy("kg_type_constraints"))
def kg_type_constraints(spark, sf_dir):
    """Predicate domain/range validation over the fixture KG
    (plans/kg_pipeline.edge_type_profile): every observed (pred,
    subj_type, obj_type) combination counted and flagged against the
    DEFAULT_EDGE_SCHEMA ontology ('*' wildcards; broadcast — the one
    genuinely bounded dim). Violations are real: the fixture ontology
    excludes tool→tool uses_tool and non-data derived_from endpoints.
    Oracle: pandas twin over the pure-Python triple twin + the SAME
    schema constant."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import (
        DEFAULT_EDGE_SCHEMA,
        KGPipeline,
        edge_type_profile,
    )

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    edges = pipe.kg_edges(pipe.triples(tdf))
    nodes = spark.createDataFrame(
        fx.entities[["entity_id", "entity_type"]]
    )
    schema = spark.createDataFrame(
        DEFAULT_EDGE_SCHEMA, "pred string, subj_type string, obj_type string"
    )
    return edge_type_profile(edges, nodes, schema)


@register("kg_canon_quality", value_oracles.lazy("kg_canon_quality"))
def kg_canon_quality(spark, sf_dir):
    """Pair-counting precision/recall of the pipeline's surface
    canonicalization against the gold entity labels riding on the
    surface_clusters frame (operators/canonicalize.
    clustering_pair_quality) — the distributed form of the north rule's
    P/R gate, runnable as a data-quality probe on every compaction.
    Oracle: a pure-Python twin that re-derives the clusters from the
    shared specification kernels (encode_texts + lsh_planes/
    lsh_bucket_matrix + fold-cosine + union-find) and counts pairs with
    exact integers."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.operators.canonicalize import (
        clustering_pair_quality,
    )
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    return clustering_pair_quality(pipe.surface_clusters(pipe.mentions(tdf)))


# =====================================================================
