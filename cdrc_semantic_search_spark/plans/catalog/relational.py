"""Registry chunk: §2.3 filters/predicates, §2.8 scalar functions, §2.4 joins, §2.5 aggregations, §2.6 windows/top-k, §2.7 set operations.

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

# =====================================================================
# §2.3 projections / filters / predicates
# =====================================================================

@register(
    "p1_name_filter",
    """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE lower(p_name) LIKE '%red%' OR lower(p_name) LIKE '%blue%'
    """,
)
def p1_name_filter(spark, sf_dir):
    """P1 resource-name filter (reference query_api.py:78: keep resources
    whose name contains 'profile'/'flyer', case-insensitive)."""
    return (
        load(spark, sf_dir, "part")
        .filter(F.lower(F.col("p_name")).rlike("red|blue"))
        .select("p_partkey", "p_name", "p_type")
    )


@register(
    "p2_null_presence",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE props IS NOT NULL AND event_type <> '' AND value IS NOT NULL
    """,
)
def p2_null_presence(spark, sf_dir):
    """P2/P3 presence predicates (query_api.py:75-76,113-115)."""
    e = load(spark, sf_dir, "events")
    return e.filter(
        F.col("props").isNotNull()
        & (F.col("event_type") != "")
        & F.col("value").isNotNull()
    ).select("event_id", "event_type", "value")


@register(
    "p6_json_flatten",
    """
    SELECT event_id, event_type,
           CAST(props->>'k' AS BIGINT) AS k_val
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def p6_json_flatten(spark, sf_dir):
    """P6 response flatten + F9 JSON decode (model.py:84-91, query_api.py:38)."""
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


@register(
    "p7_id_parse",
    """
    SELECT o_orderkey,
           split_part(o_orderpriority, '-', 1) AS prio_code,
           split_part(o_orderpriority, '-', 2) AS prio_name
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def p7_id_parse(spark, sf_dir):
    """P7/F7 doc_id split('-', maxsplit=1) (datastore.py:25)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    code, name = T.doc_id_parts(F.col("o_orderpriority"))
    return o.select("o_orderkey", code.alias("prio_code"), name.alias("prio_name"))


# =====================================================================
# §2.8 scalar functions
# =====================================================================

@register(
    "f2_normalize_chain",
    """
    SELECT p_partkey,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(p_name), '%20', ' ', 'g'), '\\+', ' ', 'g'),
               '&sort_by.*$', '', 'g'), '\\s+', ' ', 'g')) AS norm_name
    FROM part WHERE p_partkey < 500
    """,
)
def f2_normalize_chain(spark, sf_dir):
    """F2 log-query normalize chain (cdrc_logs.py:12-35)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select("p_partkey", T.normalize_query(F.col("p_name")).alias("norm_name"))


@register(
    "f3_html_strip",
    """
    SELECT doc_id,
           regexp_replace('<b>' || text || '</b>', '<[^<]+?>', '', 'g') AS clean_text
    FROM documents WHERE doc_id < 50
    """,
)
def f3_html_strip(spark, sf_dir):
    """F3 HTML tag strip (query_api.py:93) — tags synthesized then removed."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    wrapped = F.concat(F.lit("<b>"), F.col("text"), F.lit("</b>"))
    return d.select("doc_id", T.strip_html(wrapped).alias("clean_text"))


@register(
    "f4_url_basename",
    """
    SELECT doc_id,
           split_part('http://host/' || source || '/' || doc_id || '.pdf', '/', -1) AS basename
    FROM documents WHERE doc_id < 100
    """,
)
def f4_url_basename(spark, sf_dir):
    """F4 url.split('/')[-1] (query_api.py:79) over a synthesized URL."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    url = F.concat(
        F.lit("http://host/"), F.col("source"), F.lit("/"), F.col("doc_id"), F.lit(".pdf")
    )
    return d.select("doc_id", T.url_basename(url).alias("basename"))


@register(
    "f5_filename_template",
    """
    SELECT doc_id,
           format('{}-{}.{}', 'profile', doc_id, lower(source)) AS filename
    FROM documents WHERE doc_id < 100
    """,
)
def f5_filename_template(spark, sf_dir):
    """F5 filename templating (query_api.py:108-112)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        T.filename_template(F.lit("profile"), F.col("doc_id"), F.col("source")).alias(
            "filename"
        ),
    )


@register(
    "f8_date_parts",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_iso
    FROM orders WHERE o_orderkey < 2000
    """,
)
def f8_date_parts(spark, sf_dir):
    """F8 date parse → ISO (datastore.py:33) + calendar parts."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_iso"),
    )


@register(
    "f10_contains",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE text LIKE '%spark%' AND lang = 'en'
    """,
)
def f10_contains(spark, sf_dir):
    """F10 substring membership (query_api.py:78,109)."""
    d = load(spark, sf_dir, "documents")
    return d.filter(F.col("text").contains("spark") & (F.col("lang") == "en")).select(
        "doc_id", "n_chars"
    )


@register(
    "f11_response_parse",
    """
    WITH seg AS (
        SELECT CAST(doc_id // 4 AS BIGINT) AS grp, doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'note ' || source
                    ELSE 'Title: doc ' || doc_id || chr(10) || 'Summary: ' ||
                         substr(text, 1, 40) || ' Relevance: ' || source END AS s
        FROM documents WHERE doc_id < 40
    ),
    comp AS (
        SELECT grp, string_agg(s, '---------------------' ORDER BY doc_id) AS c
        FROM seg GROUP BY grp
    ),
    ex AS (
        SELECT grp, unnest(string_split(c, '---------------------')) AS one
        FROM comp
    )
    SELECT grp,
           (one LIKE '%Summary: %' AND one LIKE '%Relevance: %') AS valid,
           CASE WHEN one LIKE '%Summary: %' AND one LIKE '%Relevance: %'
                THEN string_split(string_split(one, 'Summary: ')[2], 'Relevance: ')[1]
           END AS summary,
           CASE WHEN one LIKE '%Summary: %' AND one LIKE '%Relevance: %'
                THEN string_split(string_split(one, 'Summary: ')[2], 'Relevance: ')[2]
           END AS relevance
    FROM ex
    """,
)
def f11_response_parse(spark, sf_dir):
    """F11: composite LLM-response split + per-segment Summary/Relevance
    parse (/root/reference/search_service/streamlit_app.py:37-47). The
    composite is synthesized deterministically from documents (every third
    segment lacks the markers, exercising the reference's None
    placeholder), split on the 21-dash separator, and parsed Catalyst-only."""
    from cdrc_semantic_search_spark.functions.text import (
        LLM_RESPONSE_SEP,
        parse_llm_response,
    )

    d = load(spark, sf_dir, "documents").filter("doc_id < 40")
    seg = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit("note "), F.col("source"))
    ).otherwise(
        F.concat(
            F.lit("Title: doc "),
            F.col("doc_id").cast("string"),
            F.lit("\nSummary: "),
            F.substring("text", 1, 40),
            F.lit(" Relevance: "),
            F.col("source"),
        )
    )
    comp = (
        d.select((F.col("doc_id") / 4).cast("long").alias("grp"), "doc_id", seg.alias("s"))
        .groupBy("grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "s"))),
                    lambda x: x["s"],
                ),
                LLM_RESPONSE_SEP,
            ).alias("c")
        )
    )
    exploded = comp.select(
        "grp", F.explode(F.split("c", "\\-{21}")).alias("one")
    )
    valid, summary, relevance = parse_llm_response(F.col("one"))
    return exploded.select(
        "grp",
        valid.alias("valid"),
        summary.alias("summary"),
        relevance.alias("relevance"),
    )


# =====================================================================
# §2.4 joins
# =====================================================================

@register(
    "j1_broadcast_enrich",
    """
    SELECT r.r_name AS region_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j1_broadcast_enrich(spark, sf_dir):
    """J1/J2 metadata lookup joins (datastore.py:19-42) as broadcast hash
    equi-joins: fact=customer, dims=nation/region broadcast."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            _dec_sum("c_acctbal", "total_acctbal"),
        )
    )


@register(
    "j4_anti_resume",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def j4_anti_resume(spark, sf_dir):
    """J4 change-detection diff as an ANTI join (query_api.py:55-70; the
    resume anti-join of SURVEY §2.10)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name")


@register(
    "j6_semi_membership",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts_ordered
    FROM part p WHERE EXISTS (
        SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def j6_semi_membership(spark, sf_dir):
    """J6 set-membership semi-join (datastore.py:81, query_api.py:51-52)."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return (
        p.join(li, "p_partkey", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts_ordered"))
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l.l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c, orders o, lineitem l
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate < DATE '1998-03-15' AND l.l_shipdate > DATE '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-k.
    Customer is SF-proportional, so NO forced broadcast hint — AQE /
    autoBroadcastJoinThreshold picks broadcast when the filtered side is
    genuinely small and falls back to shuffle join at 100× (a forced
    hint would OOM the driver there). Lineitem never shuffles before the
    groupBy on its own key."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l.l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue
    FROM customer c, orders o, lineitem l, supplier s, nation n
    WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      AND s.s_nationkey = n.n_nationkey
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: multi-join with same-nation constraint."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, (o["o_custkey"] == c["c_custkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(vol), 4) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l.l_discount AS DECIMAL(8,4)) AS vol
      FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
      WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
        AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
        AND c.c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1998-01-01'
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional two-nation trade volume by year —
    the disjunctive nation-pair predicate over a double broadcast of the
    nation dim (n1 supplier-side, n2 customer-side)."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN vol
                               ELSE CAST(0 AS DECIMAL(24,8)) END), 4) AS DOUBLE)
           / CAST(ROUND(SUM(vol), 4) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l.l_discount AS DECIMAL(8,4)) AS vol,
             n2.n_name AS nation
      FROM part p, supplier s, lineitem l, orders o, customer c, nation n1, nation n2, region r
      WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        AND c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey
        AND r.r_name = 'EUROPE' AND s.s_nationkey = n2.n_nationkey
        AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
        AND p.p_type = 'PROMO'
    ) GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's PROMO-part volume
    per year — conditional aggregation as a ratio of two decimal-exact
    sums, each rounded before the final double division (the only
    cross-engine-exact way to divide floats; NOTES.md conventions)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice").cast("decimal(15,4)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(24,8)")
                    )
                ),
                4,
            )
            .cast("double")
            .alias("__num"),
            F.round(F.sum(vol), 4).cast("double").alias("__den"),
        )
        .select(
            "o_year", (F.col("__num") / F.col("__den")).alias("mkt_share")
        )
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l.l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name AS nation_name
    FROM customer c, orders o, lineitem l, nation n
    WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-04-01'
      AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter.  The LIMIT rides a DETERMINISTIC order (revenue desc,
    custkey asc) so both engines cut the same 20 rows even on revenue
    ties."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation_name"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation_name")
    )


# =====================================================================
# §2.5 aggregations
# =====================================================================

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l_discount AS DECIMAL(8,4)) * CAST(1 + l_tax AS DECIMAL(8,4))), 4) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1: the canonical wide aggregation; map-side partial agg +
    2-column group key. A1/A5 analog at scale."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-02")
    # factor-wise decimal cast BEFORE multiplying: exact decimal products are
    # engine-independent, while casting a double product rounds half-up in
    # Spark vs half-even in DuckDB and drifts over thousands of rows
    price_d = F.col("l_extendedprice").cast("decimal(15,4)")
    disc_d = (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
    tax_d = (F.lit(1) + F.col("l_tax")).cast("decimal(8,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            F.round(F.sum(price_d * disc_d), 4).cast("double").alias("sum_disc_price"),
            F.round(F.sum(price_d * disc_d * tax_d), 4)
            .cast("double")
            .alias("sum_charge"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_qty"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-aggregate; predicate pushdown showcase."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,4)")
                    * F.col("l_discount").cast("decimal(8,4)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "a1_group_rollup",
    """
    SELECT source,
           CAST(MAX(n_chars) AS BIGINT) AS score,
           string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS text,
           CAST(COUNT(*) AS BIGINT) AS n_chunks
    FROM documents
    GROUP BY source
    """,
)
def a1_group_rollup(spark, sf_dir):
    """A1 group-by-document rollup (model.py:13-32): max score + ordered
    concat — the reference's retrieval postprocessor over driver tables."""
    from cdrc_semantic_search_spark.operators.rollup import group_rollup

    d = load(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").alias("score"),
        "doc_id",
        F.col("doc_id").cast("string").alias("doc_id_str"),
    )
    out = group_rollup(d, ["source"], "score", "doc_id_str", ["doc_id"], sep="|")
    return out.select(
        "source", F.col("score").cast("long").alias("score"), "text", "n_chunks"
    )


@register(
    "a2_count_by_value",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, event_type ASC
    """,
)
def a2_count_by_value(spark, sf_dir):
    """A2 Counter + sort desc (cdrc_logs.py:38-44) + W2 global sort."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


@register(
    "a3_distinct_sets",
    """
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers_with_orders,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders
    """,
)
def a3_distinct_sets(spark, sf_dir):
    """A3 distinct id sets (query_api.py:51-52)."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers_with_orders"),
        F.countDistinct("o_orderpriority").cast("long").alias("n_priorities"),
    )


@register(
    "a5_minmax_by_group",
    """
    SELECT c_nationkey,
           CAST(MIN(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS min_bal,
           CAST(MAX(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS max_bal,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def a5_minmax_by_group(spark, sf_dir):
    """A5 max-over-group (model.py:28) + min/avg."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.min(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("min_bal"),
        F.max(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("max_bal"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_bal"),
    )


# =====================================================================
# §2.6 windows / top-k / limits
# =====================================================================

@register(
    "w1_topk_per_group",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
        FROM orders WHERE o_custkey < 100
    ) WHERE rk <= 3
    """,
)
def w1_topk_per_group(spark, sf_dir):
    """W1 top-k per group (model.py:77 similarity_top_k analog)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice", "rk"
        )
    )


@register(
    "w3_limit_offset",
    """
    SELECT p_partkey, p_retailprice, rk FROM (
        SELECT p_partkey, p_retailprice,
               CAST(ROW_NUMBER() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS INT) AS rk
        FROM part
    ) WHERE rk BETWEEN 2 AND 9
    """,
)
def w3_limit_offset(spark, sf_dir):
    """W3 head(9)[1:] — limit+offset via row_number (demos/demo.py:7)."""
    p = load(spark, sf_dir, "part")
    w = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") >= 2) & (F.col("rk") <= 9))
        .select("p_partkey", "p_retailprice", "rk")
    )


@register(
    "w5_lag_lead_context",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN delta > 0 THEN CAST(delta AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS sum_pos_delta
    FROM (
        SELECT user_id, value - LAG(value) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS delta
        FROM events
    ) GROUP BY user_id
    """,
)
def w5_lag_lead_context(spark, sf_dir):
    """W5 stable intra-stream order + lag context (the dialogue-context
    window of SURVEY §2.6 over the events table)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    return (
        e.withColumn("delta", delta)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("delta") > 0, F.col("delta").cast("decimal(18,4)")).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            )
            .cast("double")
            .alias("sum_pos_delta"),
        )
    )


@register(
    "w6_running_sum",
    """
    SELECT c_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM (SELECT o_custkey AS c_custkey, o_custkey, o_orderkey, o_orderdate, o_totalprice
          FROM orders WHERE o_custkey < 50)
    """,
)
def w6_running_sum(spark, sf_dir):
    """Frame-spec window: running per-customer spend."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


# =====================================================================
# §2.7 set operations
# =====================================================================

@register(
    "u1_union_distinct",
    """
    SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n_sources FROM (
        SELECT DISTINCT c_nationkey AS nationkey, 'customer' AS side FROM customer
        UNION ALL
        SELECT DISTINCT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    ) GROUP BY nationkey
    """,
)
def u1_union_distinct(spark, sf_dir):
    """U1/U2 unionByName of derived frames (evaluation.py:46-59)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct().withColumn("side", F.lit("customer"))
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct().withColumn("side", F.lit("supplier"))
    return (
        c.unionByName(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    )


@register(
    "u2_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def u2_except(spark, sf_dir):
    """exceptAll/anti for resume sets (SURVEY §2.7)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.distinct().subtract(s)  # EXCEPT (set) semantics


@register(
    "u3_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def u3_intersect(spark, sf_dir):
    """INTERSECT (set) — the remaining §2.7 set operator: nations with
    BOTH customers and suppliers. Spark plans it as a distinct left-semi
    join, same shuffle shape as except."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


# =====================================================================
