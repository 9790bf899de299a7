"""Registry chunk: §2.10 incremental / event-time + late additions (F1/F6/J5/W4, splits, temporal, KG pipeline).

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
from cdrc_semantic_search_spark.plans.catalog.graph import _ann_fixture  # noqa: F401
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

# §2.10 incremental / event-time
# =====================================================================

@register(
    "i1_windowed_counts",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def i1_windowed_counts(spark, sf_dir):
    """Tumbling event-time windows (the batch twin of the streaming
    watermarked aggregation, streaming/incremental.py)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )


@register(
    "a4_first_pick",
    """
    SELECT o_custkey AS c_custkey,
           CAST(MIN(o_orderdate) AS DATE) AS first_order_date,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
    """,
)
def a4_first_pick(spark, sf_dir):
    """A4 first-element pick (datastore.py:33) done right: explicit min
    over the group, not 'first row of the file'."""
    o = load(spark, sf_dir, "orders").filter("o_custkey < 200")
    return o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.min("o_orderdate").cast("date").alias("first_order_date"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


# =====================================================================
# late additions: F1 / F6 / J5 / W4
# =====================================================================

@register(
    "f1_regexp_extract_all",
    """
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(regexp_extract_all(text, '\\b(s[a-z]+)', 1)) AS w
        FROM documents
    ) GROUP BY w ORDER BY n DESC, word ASC
    """,
)
def f1_regexp_extract_all(spark, sf_dir):
    """F1 regex findall (cdrc_logs.py:7-10,22-25): all s-words, counted."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(r"\b(s[a-z]+)"), F.lit(1))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
    )


@register(
    "f6_notes_template",
    """
    SELECT doc_id,
           source || E'\\n\\n' || regexp_replace('<i>' || text || '</i>', '<[^<]+?>', '', 'g') AS notes_doc
    FROM documents WHERE doc_id < 50
    """,
)
def f6_notes_template(spark, sf_dir):
    """F6/K4 notes-document synthesis (query_api.py:90-94): title + blank
    line + HTML-stripped body."""
    d = load(spark, sf_dir, "documents").filter("doc_id < 50")
    wrapped = F.concat(F.lit("<i>"), F.col("text"), F.lit("</i>"))
    return d.select("doc_id", T.notes_document(F.col("source"), wrapped).alias("notes_doc"))


@register(
    "j5_zip_join",
    """
    WITH p AS (
        SELECT ROW_NUMBER() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS rk, p_name
        FROM part
    ),
    s AS (
        SELECT ROW_NUMBER() OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS rk, s_name
        FROM supplier
    )
    SELECT CAST(p.rk AS INT) AS rank, p.p_name, s.s_name
    FROM p JOIN s ON p.rk = s.rk WHERE p.rk <= 10
    """,
)
def j5_zip_join(spark, sf_dir):
    """J5 positional zip join (streamlit_app.py:43) done safely: explicit
    row_number on both sides + equi-join, never partition order."""
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    wp = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    ws = Window.orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    pr = p.select(F.row_number().over(wp).alias("rank"), "p_name").filter("rank <= 10")
    sr = s.select(F.row_number().over(ws).alias("rank"), "s_name").filter("rank <= 10")
    return pr.join(sr, "rank").select("rank", "p_name", "s_name")


@register(
    "w4_head_n",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
)
def w4_head_n(spark, sf_dir):
    """W4 head(100) (evaluation.py:43) — deterministic via explicit order
    + unique-key tie-break before the limit."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


@register(
    "a1b_ordered_assembly",
    """
    SELECT user_id,
           string_agg(event_type, '|' ORDER BY ts, event_id) AS conversation_text,
           CAST(COUNT(*) AS BIGINT) AS n_turns
    FROM events WHERE user_id < 20
    GROUP BY user_id
    """,
)
def a1b_ordered_assembly(spark, sf_dir):
    """W5/A1 conversation assembly: the two-stage order-stable concat
    (operators/assembly.assemble_conversations) cross-checked against
    SQL string_agg with explicit ORDER BY — proving the blocked concat
    equals a global ordered concat."""
    from cdrc_semantic_search_spark.operators.assembly import assemble_conversations

    e = load(spark, sf_dir, "events").filter("user_id < 20")
    # map the event stream onto the (conv_id, turn_idx, text, ts) shape;
    # event_id is unique so it is a valid stable ordering key
    turns = e.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("text"),
        "ts",
    )
    out = assemble_conversations(turns, sep="|", block_size=64)
    return out.select(
        F.col("conv_id").alias("user_id"),
        "conversation_text",
        F.col("n_turns").alias("n_turns"),
    )


@register("ann_ivf_topk", value_oracles.lazy("ann_ivf_topk"))
def ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate top-k. Deterministic end-to-end (seeded
    k-means on a DETERMINISTIC sample — vec_id < 256 sorted, not
    limit(), whose row pick depends on partitioning), so the oracle is a
    VALUES literal from the pure-NumPy twin; recall bounds are separately
    pinned in tests/test_ivf.py and the exact twin is j3_topk_cosine."""
    from cdrc_semantic_search_spark.operators.similarity import (
        topk_cosine_ivf,
        train_centroids,
    )

    sample, q, c = _ann_fixture(spark, sf_dir)
    cent = train_centroids(sample, n_centroids=16, seed=42)
    out = topk_cosine_ivf(spark, q, c, cent, k=5, n_probe=4)
    return out.select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")


@register("dedup_semantic_keep", value_oracles.lazy("dedup_semantic_keep"))
def dedup_semantic_keep(spark, sf_dir):
    """SemDeDup-style semantic dedup: k-means clusters + within-cluster
    greedy cosine pruning (operators/dedup.semantic_dedup_keep). Fully
    deterministic (seeded centroids on the shared _ann_fixture sample,
    ascending-id greedy order, shared float64 keep kernel), so the
    oracle is the pure-NumPy twin's VALUES literal. The 0.35 threshold
    is fixture-calibrated — the synthetic embeddings are near-orthogonal
    (max off-diagonal cosine ≈ 0.51); real encoder output uses ~0.95."""
    from cdrc_semantic_search_spark.operators.dedup import semantic_dedup_keep
    from cdrc_semantic_search_spark.operators.similarity import train_centroids

    sample, _q, _c = _ann_fixture(spark, sf_dir)
    cent = train_centroids(sample, n_centroids=16, seed=42)
    e = load(spark, sf_dir, "embeddings")
    return semantic_dedup_keep(
        spark, e, "vec_id", "embedding", cent, threshold=0.35
    )


@register(
    "q18_large_volume_customer",
    """
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 120
    )
    GROUP BY o.o_orderkey, o.o_orderdate
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape: group-having subquery membership (left-semi join
    against an aggregated key set). Deliberately coexists with
    :func:`q18_large_volume_customers` (plural): this variant pins the
    two-table semi-join kernel in isolation (orders+lineitem only, no
    dimension), while the plural entry is the full three-table Q18 with
    the customer rollup — two registry rows, two distinct plan shapes."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .filter(F.col("q") > 120)
        .select("l_orderkey")
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_dec_sum("l_quantity", "total_qty"))
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "total_qty",
        )
    )


@register(
    "a7_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_quantity, 0.25), 4) AS qty_p25
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a7_percentiles(spark, sf_dir):
    """Exact continuous percentiles per group — Spark's `percentile`
    (exact, sort-based) ≡ DuckDB quantile_cont: both linearly interpolate
    at rank p·(n−1). The scale path swaps in approx_percentile (t-digest,
    map-side mergeable) when an exact sort per group is too expensive."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("qty_p25"),
    )


@register(
    "a8_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def a8_rollup(spark, sf_dir):
    """Hierarchical subtotals via ROLLUP — grand total + per-flag +
    per-(flag,status) in ONE pass (Spark expands grouping sets inside the
    same partial/final aggregation; no extra scans or self-unions)."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _dec_sum("l_quantity", "sum_qty"),
    )


@register(
    "a9_pivot",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_F,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a9_pivot(spark, sf_dir):
    """Pivot (dict→columns transpose, the F12 idiom as real columns):
    groupBy().pivot() with EXPLICIT pivot values — at scale the implicit
    form pays a distinct-values job first; naming them keeps it one pass."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"))
    )
    return out.select(
        "l_returnflag",
        F.col("F").alias("qty_F"),
        F.col("O").alias("qty_O"),
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) / 7.0, 4) AS DOUBLE) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')
      AND l.l_quantity < 0.2 * (
          SELECT AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average gates
    the outer row). Decorrelated the way Catalyst would: the per-partkey
    average aggregates to ≤|filtered part| rows and joins back — no
    FORCED broadcast, because both the filtered part list and the
    per-partkey average table are SF-proportional; AQE broadcasts them
    while they fit and falls back to a shuffle join at 100× instead of
    OOMing the driver. l_quantity is integral, so the double AVG is
    exact and the 0.2·avg comparison is engine-independent."""
    li = load(spark, sf_dir, "lineitem")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#11", "Brand#12", "Brand#13"))
        .select("p_partkey")
    )
    avg_q = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey")
        .agg(F.avg("l_quantity").alias("avg_qty"))
    )
    return (
        li.join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                   * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(ROUND(r.total_rev, 4) AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: revenue-per-supplier view + scalar-MAX subquery
    (the reference's "best match wins" idiom at table scale). The max is
    aggregated to a 1-row frame and broadcast back — no global window
    (a Window.partitionBy() over everything would funnel the whole
    revenue table through one task). Ties all survive, as in SQL;
    the equality compares exact decimals, so it cannot drift."""
    li = load(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(15,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(8,4)"))
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    sup = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev["total_rev"] == mx["max_rev"])
        .join(sup, sup["s_suppkey"] == rev["supplier_no"])
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 4).cast("double").alias("total_revenue"),
        )
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(8,4)))), 4)
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-AND predicates spanning both join sides.
    The single-side conjuncts are factored out so they PUSH DOWN below
    the join (part: brand ∈ the three brands ∧ size ≤ 15; lineitem:
    quantity ≤ 30) — Catalyst does this constraint propagation for the
    common conjuncts; stating the residual OR once post-join keeps the
    semantics. The part side shrinks to a broadcast after its filter."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 15)
    )
    j = li.filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)).join(
        p, F.col("p_partkey") == F.col("l_partkey")
    )
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5)
         & (F.col("l_quantity") <= 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#34")
           & (F.col("l_quantity") >= 20))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(15,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(8,4)"))
            ),
            4,
        )
        .cast("double")
        .alias("revenue")
    )


_SQL_SURFACE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM {orders} o
    WHERE EXISTS (
        SELECT 1 FROM {lineitem} l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o_orderpriority
"""


@register("sql_surface_exists", _SQL_SURFACE.format(orders="orders", lineitem="lineitem"))
def sql_surface_exists(spark, sf_dir):
    """The engine's SQL FRONT-END (spark.sql over temp views) running a
    TPC-H Q4-shaped EXISTS aggregation — the identical ANSI string DuckDB
    executes, proving both of the brief's declared API surfaces
    (DataFrame AND spark.sql) produce oracle-exact results. Catalyst
    rewrites EXISTS to the same left-semi join the DataFrame queries
    build by hand."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("__sql_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__sql_lineitem")
    return spark.sql(
        _SQL_SURFACE.format(orders="__sql_orders", lineitem="__sql_lineitem")
    )


@register(
    "q22_dormant_rich_customers",
    """
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS ab
        FROM customer WHERE c_acctbal > 0.0 AND c_nationkey < 10
    )
    SELECT c_nationkey AS nation, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_nationkey < 10
      AND c_acctbal > (SELECT ab FROM avg_bal)
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
      )
    GROUP BY c_nationkey
    """,
)
def q22_dormant_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: global scalar-subquery threshold (above-average
    balance, computed as exact-decimal-sum / count so the cutoff is
    engine-independent) + NOT EXISTS anti-join (customers without urgent
    orders — every synthetic customer has SOME order). The scalar joins
    in as a broadcast cross join, not a driver collect. Deliberately
    coexists with :func:`q22_global_sales_opportunity`: this variant
    pins the division-free decimal threshold against a FILTERED customer
    subset with a plain anti-join, while the other is the full Q22 with
    the country-code grouping — two registry rows, two plan shapes."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 10)
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    dormant = rich.join(
        o, rich["c_custkey"] == o["o_custkey"], "left_anti"
    )
    return dormant.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("totacctbal"),
    )


@register(
    "q21_lone_returner_suppliers",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q21_lone_returner_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: the multi-EXISTS idiom — suppliers who were the
    ONLY returner ('R') in a finished multi-supplier order. EXISTS →
    left-semi join, NOT EXISTS → left-anti join, both hash-joined on
    l_orderkey with the suppkey inequality as a residual condition (the
    testdata has no commit/receipt dates, so returnflag stands in for
    'kept waiting'). The two fact-fact joins share the l_orderkey
    partitioning, so the exchange is reused across semi and anti."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").alias("l3")
    cand = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    # orders is a fact table — it joins on the same l_orderkey partitioning
    # (exchange reuse); supplier is SF-proportional, so AQE decides the
    # join strategy rather than a forced broadcast
    return (
        cand.join(o, F.col("l1.l_orderkey") == o["o_orderkey"])
        .join(s, F.col("l1.l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


@register(
    "q4_order_priority_checking",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_checking(spark, sf_dir):
    """TPC-H Q4 shape: date-windowed orders having at least one late line,
    counted per priority. The testdata carries no commit/receipt dates
    (same adaptation note as q21), so "late" is l_shipdate more than 60
    days after o_orderdate — a CORRELATED exists whose predicate spans
    both tables, compiled to one left-semi hash join on l_orderkey with
    the date comparison as a residual condition. Orders is filtered
    before the join (pushed to the scan); lineitem never aggregates —
    the semi join stops at first match per order."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.date_add(o["o_orderdate"], 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_priority_by_returnflag",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_priority_by_returnflag(spark, sf_dir):
    """TPC-H Q12 shape: fact-fact join + conditional-count pivot per
    group (the testdata has no l_shipmode, so l_returnflag is the
    grouping stand-in — the idiom under test is the CASE-WHEN partial
    aggregation, which collapses each map partition to 3 rows before the
    exchange). The l_shipdate range filter is pushed to the lineitem
    scan; orders carries only (o_orderkey, o_orderpriority) through the
    join (column pruning)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution — the OUTER
    join + two-level aggregation idiom (customers with zero qualifying
    orders must survive as c_count = 0). The testdata has no o_comment,
    so the "not like %special%requests%" exclusion is stood in by an
    o_orderpriority predicate — same plan shape: the filter lives in the
    JOIN condition, not a WHERE (a WHERE would silently turn the outer
    join inner and drop zero-order customers).

    Scale: the left join shuffles both sides on the customer key (both
    SF-proportional — no broadcast hint, AQE decides); the first
    aggregation rides the same partitioning (no extra exchange), and the
    second groups on c_count, whose key space is tiny (map-side combine
    collapses each task to ~dozens of rows)."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (c["c_custkey"] == o["o_custkey"])
        & (o["o_orderpriority"] != "4-NOT SPECIFIED"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("long").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@register(
    "q14_promo_revenue",
    """
    SELECT ROUND(
        100.0 * CAST(ROUND(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l_discount AS DECIMAL(8,4))
                     ELSE CAST(0 AS DECIMAL(15,4)) * CAST(0 AS DECIMAL(8,4)) END), 4) AS DOUBLE)
        / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 4) AS DOUBLE),
        6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-03-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: promotion revenue share — conditional aggregation over
    a fact-dim join, reduced to ONE output row. Both sums are exact
    decimal products (factor-wise casts, module doc), rounded to 4
    before the double division; the ratio itself is one IEEE division of
    two identical doubles, so both engines agree bit-for-bit.

    Scale: the l_shipdate range filter is pushed to the lineitem scan;
    part carries only (p_partkey, p_type) through the join (column
    pruning) and is dimension-sized relative to lineitem — AQE
    broadcast-decides (no forced hint; part grows with SF). The CASE
    sums partial-aggregate map-side to a single row per task."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-03-01")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    price_d = F.col("l_extendedprice").cast("decimal(15,4)")
    disc_d = (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
    zero_d = F.lit(0).cast("decimal(15,4)") * F.lit(0).cast("decimal(8,4)")
    promo = F.when(F.col("p_type").startswith("PROMO"), price_d * disc_d).otherwise(
        zero_d
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.round(F.sum(promo), 4).cast("double")
                / F.round(F.sum(price_d * disc_d), 4).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    GROUP BY c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18: large-volume customers — the HAVING-subquery-as-
    semi-join idiom. The inner aggregation groups lineitem on its OWN
    key (one exchange, map-side partials), keeps only order keys whose
    quantity sum exceeds the threshold (a tiny survivor set), and that
    set semi-joins orders before the re-join with lineitem for the
    final rollup. Quantity sums are exact decimal (integral doubles in
    the data, but the cast removes any float-accumulation hazard).

    Scale: the survivor set is threshold-selective (46 of 30k orders at
    sf0.01) — AQE broadcast-decides the semi and subsequent joins at
    runtime; no forced hints since every table here is SF-proportional.
    lineitem is scanned twice by design (TPC-H's own shape); the second
    scan only reads (l_orderkey, l_quantity) after pruning."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty_d = F.col("l_quantity").cast("decimal(18,4)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_d).alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty_d).cast("double").alias("sum_qty"))
    )


@register(
    "q22_global_sales_opportunity",
    """
    WITH pos AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, COUNT(*) AS cnt
        FROM customer WHERE c_acctbal > 0.0
    ),
    urgent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
    )
    SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer c, pos
    WHERE CAST(c_acctbal AS DECIMAL(18,4)) * pos.cnt > pos.s
      AND NOT EXISTS (SELECT 1 FROM urgent u WHERE u.o_custkey = c.c_custkey)
    GROUP BY c_nationkey % 5
    """,
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no matching
    order, grouped by country code — the scalar-subquery-threshold +
    NOT-EXISTS anti-join idiom. Adaptations for this testdata (no
    c_phone; every customer has ≥1 order, so the classic "never ordered"
    predicate is empty): cntrycode = c_nationkey % 5, and the anti-join
    excludes customers with an URGENT order instead of any order.

    Exactness: "above average" compares c_acctbal·cnt > Σ(acctbal) in
    EXACT decimal — a decimal-integer cross-multiplication instead of
    dividing (decimal division scale rules differ between engines, and
    a double average is accumulation-order-dependent; the product form
    is order-independent and bit-exact in both).

    Scale: the (sum, count) scalar is a 1-row broadcast cross join (the
    allowed hint class — scalar aggregates, never SF-proportional
    tables); the anti side is a DISTINCT projection of orders, shuffled
    on its own key; customer is scanned once."""
    c = load(spark, sf_dir, "customer")
    bal_d = F.col("c_acctbal").cast("decimal(18,4)")
    pos = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.sum(bal_d).alias("s"), F.count(F.lit(1)).alias("cnt"))
    )
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    kept = (
        c.crossJoin(F.broadcast(pos))
        .filter(bal_d * F.col("cnt") > F.col("s"))
        .join(urgent, c["c_custkey"] == urgent["o_custkey"], "left_anti")
    )
    return kept.groupBy(
        (F.col("c_nationkey") % 5).cast("int").alias("cntrycode")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.sum(bal_d).cast("double").alias("totacctbal"),
    )


@register(
    "i2_sliding_windows",
    """
    WITH w AS (
        SELECT event_type, unnest([
            make_timestamp(CAST(floor(epoch(ts)/3600)*3600 AS BIGINT)*1000000),
            make_timestamp((CAST(floor(epoch(ts)/3600)*3600 AS BIGINT)-3600)*1000000)
        ]) AS window_start
        FROM events
    )
    SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2
    """,
)
def i2_sliding_windows(spark, sf_dir):
    """Sliding event-time windows (2 h wide, 1 h slide): each event lands
    in exactly window/slide = 2 epoch-aligned windows. The oracle expands
    the two member windows per event explicitly, proving Spark's
    F.window(slide) assignment bucket-for-bucket. In streaming the same
    expression runs under a watermark (tumbling twin: i1_windowed_counts)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "ev_retention_cohorts",
    """
    WITH first_seen AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST((epoch(a.day) - epoch(f.cohort_day)) / 86400 AS INT) AS days_since,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def ev_retention_cohorts(spark, sf_dir):
    """Retention cohort matrix: users grouped by first-seen day, activity
    counted per days-since-cohort — the classic growth-analytics rollup.
    Two aggregations plus one join on user_id (shared partitioning);
    day-truncation and the epoch difference are engine-identical, so the
    full matrix hash-matches."""
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    act = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days_since = (
        (F.unix_timestamp("day") - F.unix_timestamp("cohort_day")) / 86400
    ).cast("int")
    return (
        act.join(first, "user_id")
        .groupBy("cohort_day", days_since.alias("days_since"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


@register(
    "t1_asof_enrich",
    """
    WITH purch AS (
        SELECT user_id, ts, MAX(value) AS value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id,
           ROUND(p.value, 6) AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def t1_asof_enrich(spark, sf_dir):
    """As-of join (backward, inclusive): each click gets the user's most
    recent purchase value at-or-before its timestamp, NULL when none.
    The operator (operators/temporal.asof_join_backward) is a union +
    single window pass — one shuffle on user_id, no inequality-join
    candidate explosion; the oracle is DuckDB's native ASOF LEFT JOIN."""
    from cdrc_semantic_search_spark.operators.temporal import asof_join_backward

    ev = load(spark, sf_dir, "events")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))  # dedupe equal-ts snapshots
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join_backward(
        clicks, purch, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "event_id", "user_id", F.round("value", 6).alias("last_purchase_value")
    )


@register(
    "t2_range_join",
    """
    WITH ranges AS (
        SELECT event_id AS range_id, ts AS r_start, ts + INTERVAL 6 HOUR AS r_end
        FROM events WHERE event_type = 'signup' AND event_id < 400
    ),
    counts AS (
        SELECT r.range_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events e JOIN ranges r
          ON e.ts >= r.r_start AND e.ts < r.r_end
        GROUP BY r.range_id
    )
    SELECT ranges.range_id, CAST(COALESCE(counts.n, 0) AS BIGINT) AS n_facts
    FROM ranges LEFT JOIN counts USING (range_id)
    """,
)
def t2_range_join(spark, sf_dir):
    """Range (interval) join: count events inside each 6-hour window
    opened by an early signup — one row per range, empty windows included
    with 0. The range side broadcasts (ranges ≪ facts), so the fact table
    is scanned once with a nested-loop probe per range — the plan you
    want when the interval table is dimension-sized
    (operators/temporal.range_join_count)."""
    from cdrc_semantic_search_spark.operators.temporal import range_join_count

    ev = load(spark, sf_dir, "events")
    ranges = (
        ev.filter((F.col("event_type") == "signup") & (F.col("event_id") < 400))
        .select(
            F.col("event_id").alias("range_id"),
            F.col("ts").alias("r_start"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("r_end"),
        )
    )
    return range_join_count(
        ev, ranges, fact_ts="ts", range_start="r_start", range_end="r_end",
        range_keys=["range_id"],
    )


@register(
    "t3_hypertable_rollup",
    """
    SELECT '1 hour' AS level, date_trunc('hour', ts) AS bucket_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT '1 day', date_trunc('day', ts), event_type,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
    FROM events GROUP BY 2, 3
    """,
)
def t3_hypertable_rollup(spark, sf_dir):
    """Hypertable-style cascading rollup (continuous-aggregate analog):
    hourly buckets aggregate the raw rows once; the daily level
    re-aggregates the HOURLY table (sums of exact decimal sums). The
    oracle aggregates each level directly from raw — hash equality IS the
    cascade-correctness invariant."""
    from cdrc_semantic_search_spark.operators.temporal import hypertable_rollup

    ev = load(spark, sf_dir, "events")
    return hypertable_rollup(
        ev, ts_col="ts", group_cols=["event_type"], agg_col="value",
        levels=("1 hour", "1 day"),
    )


@register(
    "ev_funnel_stages",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'signup') AS t1
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'view' AND s1.t1 IS NOT NULL
          AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 48 HOUR
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 48 HOUR
        GROUP BY e.user_id
    )
    SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS funnel_stage,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    WHERE t1 IS NOT NULL
    GROUP BY 1
    """,
)
def ev_funnel_stages(spark, sf_dir):
    """Ordered funnel analysis (signup → view within 48 h → purchase
    within 48 h of the view): how many users reach each stage, honoring
    event-time order + conversion windows. Staged conditional
    aggregation — each stage table is one groupBy over the events
    filtered by the previous stage's timestamp; all three joins share
    the user_id partitioning (exchange reuse), no window over the full
    event stream needed."""
    ev = load(spark, sf_dir, "events")
    win = F.expr("INTERVAL 48 HOURS")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1")
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1.filter(F.col("t1").isNotNull()), "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .otherwise(1)
        .cast("int")
    )
    return (
        s1.filter(F.col("t1").isNotNull())
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@register(
    "w9_rank_family",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM lineitem WHERE l_orderkey < 100
    WINDOW w AS (
        PARTITION BY l_returnflag
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    )
    """,
)
def w9_rank_family(spark, sf_dir):
    """The full rank-function family over one reusable window spec (ties
    broken by unique keys so every engine agrees): rank, dense_rank,
    ntile, percent_rank, cume_dist — one shuffle, all five functions ride
    the same sort."""
    li = load(spark, sf_dir, "lineitem").filter("l_orderkey < 100")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "dedup_levenshtein",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 300) a
    JOIN (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 300) b
      ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_levenshtein(spark, sf_dir):
    """Edit-distance fuzzy matching — the dedup family's string-metric
    member (record-linkage style): customer-name pairs within Levenshtein
    distance 2, small-n all-pairs twin. The scale path blocks candidates
    first (shared prefix / length band / LSH buckets) and only then pays
    the O(len²) distance — same pattern as the other dedup operators."""
    c = load(spark, sf_dir, "customer").filter("c_custkey < 300").select(
        "c_custkey", "c_name"
    )
    a = c.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("na"))
    b = c.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("na", "nb").cast("int"))
        .filter(F.col("edit_dist") <= 2)
        .select("id_a", "id_b", "edit_dist")
    )


@register(
    "dedup_levenshtein_blocked",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 2000) a
    JOIN (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 2000) b
      ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_levenshtein_blocked(spark, sf_dir):
    """The edit-distance SCALE path (closes r4 "What's wrong #3"): the
    PassJoin-style segment-blocked operator whose candidate generation
    is COMPLETE (operators/dedup.levenshtein_pairs_blocked docstring has
    the pigeonhole argument), so its output is oracled against the plain
    all-pairs DuckDB twin and hash-matches exactly. The templated
    Customer#NNNNNNNNN names are the blocking-hostile case — shared
    prefixes concentrate candidates into few buckets — which the exact
    re-check absorbs at this bounded slice and the bucket cap guards at
    scale."""
    from cdrc_semantic_search_spark.operators.dedup import (
        levenshtein_pairs_blocked,
    )

    c = load(spark, sf_dir, "customer").filter("c_custkey < 2000").select(
        "c_custkey", "c_name"
    )
    return levenshtein_pairs_blocked(c, "c_custkey", "c_name", max_dist=2)


@register(
    "w7_sessionization",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id < 30
    ),
    sessions AS (
        SELECT user_id, event_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def w7_sessionization(spark, sf_dir):
    """Batch sessionization (gap > 30 min starts a session): lag → marker
    → running-sum session id — exactly oracle-checkable."""
    e = load(spark, sf_dir, "events").filter("user_id < 30")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; go NTZ → TZ (session is UTC) → epoch
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    marked = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = marked.withColumn(
        "session_id", F.sum("new_session").over(wsum).cast("long")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )


@register(
    "w8_session_window",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                     OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE user_id < 30
    ),
    s AS (
        -- event_id in the cumulative ORDER BY: equal-ts peers would otherwise
        -- sort nondeterministically and could merge rows into the wrong
        -- session at SFs with duplicate (user_id, ts)
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def w8_session_window(spark, sf_dir):
    """Spark's NATIVE session_window aggregation cross-checked against the
    classic lag/cumsum SQL formulation (w7's shape with the >= gap rule —
    session_window's window end is exclusive, so a gap of exactly the
    timeout starts a new session). One aggregation, no window function on
    the Spark side; the same expression works under a watermark in
    streaming."""
    ev = load(spark, sf_dir, "events").filter("user_id < 30")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


@register(
    "curation_pipeline",
    f"""
    WITH t AS (
        SELECT doc_id, n_chars, {_SQL_TOKS} AS toks FROM documents WHERE doc_id < 300
    ),
    dup_pairs AS (
        SELECT b.doc_id AS loser
        FROM (SELECT doc_id, list_distinct(toks) AS s FROM t) a
        JOIN (SELECT doc_id, list_distinct(toks) AS s FROM t) b
          ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              len(list_distinct(list_concat(a.s, b.s))) >= 0.8
    ),
    survivors AS (
        SELECT * FROM t WHERE doc_id NOT IN (SELECT loser FROM dup_pairs)
    ),
    kept AS (
        SELECT doc_id FROM survivors
        WHERE len(toks) BETWEEN 20 AND 200
          AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
    )
    SELECT CASE WHEN CAST(('0x' || substr(md5('split|' || doc_id), 1, 8)) AS UBIGINT) % 10000 < 8000 THEN 'train'
                WHEN CAST(('0x' || substr(md5('split|' || doc_id), 1, 8)) AS UBIGINT) % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM kept GROUP BY 1
    """,
)
def curation_pipeline(spark, sf_dir):
    """The composed training-data curation flow END-TO-END in one plan:
    token-Jaccard near-dup removal (inverted-index candidates, losers =
    higher id of each ≥0.8 pair) → quality gate (token band + lexical
    diversity) → deterministic train/val/test split → per-split counts.
    Every stage is the registry operator it reuses (ngram_jaccard_pairs
    k=1, curation predicates, deterministic_split), and the whole
    composition still hash-matches one DuckDB query."""
    from cdrc_semantic_search_spark.operators.dedup import ngram_jaccard_pairs
    from cdrc_semantic_search_spark.operators.split import deterministic_split
    from cdrc_semantic_search_spark.operators.text_analysis import quality_gate

    d = load(spark, sf_dir, "documents").filter("doc_id < 300")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=1, threshold=0.8)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = d.join(losers, "doc_id", "left_anti")
    kept = quality_gate(survivors, "text")
    return (
        deterministic_split(kept, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@register(
    "curation_filter",
    f"""
    SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               len(toks) AS n_tokens,
               CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks) ELSE 0.0 END AS distinct_ratio
        FROM (SELECT doc_id, n_chars, {_SQL_TOKS} AS toks FROM documents)
    ) WHERE n_tokens BETWEEN 20 AND 200 AND distinct_ratio >= 0.3
    """,
)
def curation_filter(spark, sf_dir):
    """Training-data curation filter: token-count band + lexical-diversity
    floor — the composed quality gate a 100-TB pipeline scans with
    (predicates stay Catalyst-side; nothing leaves the scan+filter).
    Shared implementation: operators/text_analysis.quality_gate (also the
    dedup→gate→split stage in curation_pipeline)."""
    from cdrc_semantic_search_spark.operators.text_analysis import quality_gate

    d = load(spark, sf_dir, "documents")
    return quality_gate(d, "text").select("doc_id", "n_chars")


# =====================================================================
