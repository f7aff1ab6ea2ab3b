"""Relational query surface — scans, filters, projections, joins,
aggregations, sorts, set ops (SURVEY §2.1-2.4, §2.6-2.7) expressed
over the driver's TPC-H-ish tables.

Each query is the Spark-first realization of a reference operator
(cited per query); the DuckDB oracle is the ANSI-SQL ground truth.

Scale notes (100 TB posture):
* dimension joins (region/nation/supplier) carry explicit
  ``broadcast()`` hints — they are world-bounded;
* fact-fact joins (lineitem ⋈ orders) shuffle on the join key and
  rely on AQE for skew splitting;
* all filters/projections are plain Column expressions so Catalyst
  pushes them into the parquet scan (verified in tests via
  ``explain`` PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.session import local_rows_df

from dww_data_pipeline_spark.operators import sequence as seq
from dww_data_pipeline_spark.plans.registry import register
from dww_data_pipeline_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col, prec: int = 18, scale: int = 2):
    return col.cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# A1/A2 — group-count with count-desc,name-asc ordering (reference
# dwwApi.js:321-342 company search counts, :368-391 role counts; O2 sort).
# The pricing-summary shape also exercises P2 threshold filter and
# decimal-exact money aggregation — the engine's flagship query.
# ---------------------------------------------------------------------------


@register(
    "a1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="A1/A2 group-count + decimal-exact money aggregation (flagship; "
    "reference dwwApi.js:321-342)",
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(
                _dec(F.col("l_extendedprice"))
                * (F.lit(1) - _dec(F.col("l_discount"), 18, 4))
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "a3_search_mappings",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
    description="A3 multi-key group-count (reference dwwApi.js:394-423)",
)
def a3_search_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("total_price"),
    )


@register(
    "p1_projection_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS disc_price
    FROM lineitem
    WHERE l_discount > 0.05 AND l_quantity >= 25
    """,
    description="P1 projection + P2 numeric threshold filter (reference "
    "dwwApi.js:21, README.md:22 matchRatio>80) — pushdown-verified",
)
def p1_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") >= 25)).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (
            _dec(F.col("l_extendedprice")) * (F.lit(1) - _dec(F.col("l_discount"), 18, 4))
        )
        .cast("double")
        .alias("disc_price"),
    )


@register(
    "p3_compound_filter",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'F'
      AND NOT o_orderpriority = '1-URGENT'
      AND o_totalprice > 1000
    """,
    description="P3 compound boolean filter (reference dwwApi.js:65 "
    "isMapped AND NOT geoLoc='' AND NOT location='')",
)
def p3_compound_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderpriority") != "1-URGENT")
        & (F.col("o_totalprice") > 1000)
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@register(
    "p4_having_filter",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS cnt
    FROM customer
    GROUP BY c_mktsegment
    HAVING COUNT(*) >= 10
    """,
    description="P4 min-count HAVING filter (reference dwwFront.js:85-87)",
)
def p4_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 10)
    )


@register(
    "p7_case_insensitive_match",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE lower(c_mktsegment) = lower('BuIlDiNg')
    """,
    description="P7 case-insensitive target-match predicate (reference "
    "dwwApi.js:267,275)",
)
def p7_case_insensitive_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.lower(F.col("c_mktsegment")) == F.lower(F.lit("BuIlDiNg"))).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "j1_star_join",
    oracle="""
    SELECT n_name AS nation, r_name AS region,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
    description="J1 graph-pattern star join: fact ⋈ fact ⋈ 3 dims "
    "(reference dwwApi.js:64-68 MATCH (p)-[r]-(c)); nation/region broadcast",
)
def j1_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(
                _dec(F.col("l_extendedprice"))
                * (F.lit(1) - _dec(F.col("l_discount"), 18, 4))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "j2_broadcast_dim_join",
    oracle="""
    SELECT s_suppkey, s_name, n_name AS nation, r_name AS region
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
    description="J2 map-application broadcast join (reference entity "
    "resolution GetWeta.py:157-174); both dims broadcast",
)
def j2_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


@register(
    "j4_chained_enrichment",
    oracle="""
    SELECT c_custkey, c_name,
           COALESCE(n_name, '') AS nation,
           COALESCE(r_name, '') AS region
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
    description="J4 chained left-join enrichment with '' fill (reference "
    "GetWeta.py:567-584 location→region lookups)",
)
def j4_chained_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("n_name"), F.lit("")).alias("nation"),
            F.coalesce(F.col("r_name"), F.lit("")).alias("region"),
        )
    )


@register(
    "j6_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 50000
    )
    """,
    description="J6 existence check as left-semi join (reference "
    "FindPersonInList GetWeta.py:436-440)",
)
def j6_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "j7_anti_join",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45
    )
    """,
    description="J7 duplicate/absence check as left-anti join (reference "
    "GetWeta.py:239-247 skip-if-edge-exists)",
)
def j7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_name")


@register(
    "j9_reverse_map",
    oracle="""
    SELECT n_name AS nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
           string_agg(c_name, '|' ORDER BY c_name) AS customer_names
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    description="J9 reverse-map build: invert many-to-one mapping with "
    "collected members + totals (reference dwwFront.js:54-75)",
)
def j9_reverse_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("total_acctbal"),
            F.concat_ws("|", F.sort_array(F.collect_list("c_name"))).alias(
                "customer_names"
            ),
        )
    )


# ---------------------------------------------------------------------------
# More aggregates (A4, A7-A10) and sorts/limits (O-group)
# ---------------------------------------------------------------------------


@register(
    "a4_earliest_date",
    oracle="""
    SELECT o_custkey,
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_order,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_order
    FROM orders
    GROUP BY o_custkey
    """,
    description="A4 earliest-release aggregate (reference ParseEarliestDate "
    "GetWeta.py:348-368); temporal min/max rendered as strings",
)
def a4_earliest_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("last_order"),
    )


@register(
    "a9_blacklist_hits",
    oracle="""
    SELECT term, COUNT(*) AS hits
    FROM documents,
         (VALUES ('spark'), ('join'), ('window'), ('stream'), ('vector')) AS t(term)
    WHERE contains(text, term)
    GROUP BY term
    """,
    description="A9 blacklist-term hit counts (reference dwwFront.js:160-168, "
    "223-233); term list × contains-filter × group-count",
)
def a9_blacklist_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    terms = local_rows_df(
        spark,
        [("spark",), ("join",), ("window",), ("stream",), ("vector",)],
        "term string",
    )
    return (
        d.crossJoin(F.broadcast(terms))
        .filter(F.col("text").contains(F.col("term")))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


@register(
    "a10_distinct",
    oracle="SELECT DISTINCT event_type FROM events",
    description="A10 distinct-set collection (reference GetWeta.py:104-108, "
    "functions.js:244-255)",
)
def a10_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select("event_type").distinct()


@register(
    "o2_topk_count_desc",
    oracle="""
    SELECT p_brand, COUNT(*) AS cnt
    FROM part
    GROUP BY p_brand
    ORDER BY cnt DESC, p_brand
    LIMIT 5
    """,
    description="O2/O5 count-desc name-asc top-k (reference dwwApi.js:325 "
    "ORDER BY count DESC, r.company; limit GetWeta.py:184-187)",
)
def o2_topk_count_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "p_brand")
        .limit(5)
    )


@register(
    "o5_first_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    description="O5/W6 first-result-per-group pick via row_number "
    "(reference GetWeta.py:184-187 top search hit; dwwApi.js:250-252)",
)
def o5_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return seq.first_per_group(o, "o_custkey", [F.desc("o_orderdate"), "o_orderkey"]).select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "u1_union_all",
    oracle="""
    SELECT c_name AS name, CAST(c_acctbal AS DOUBLE) AS acctbal, 'customer' AS kind
    FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_name AS name, CAST(s_acctbal AS DOUBLE) AS acctbal, 'supplier' AS kind
    FROM supplier WHERE s_acctbal > 9000
    """,
    description="U1 union of two row sources (reference dwwApi.js:281-293 "
    "real+dummy rel union)",
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    a = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    b = s.filter(F.col("s_acctbal") > 9000).select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return a.unionByName(b)


@register(
    "u2_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    description="U2 union-dedup by key (reference GetWeta.py:104-108 "
    "personList dict dedup)",
)
def u2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "u3_verified_split",
    oracle="""
    SELECT p_partkey, p_name,
           CASE WHEN l_partkey IS NOT NULL THEN 'verified' ELSE 'unverified' END AS status
    FROM part
    LEFT JOIN (SELECT DISTINCT l_partkey FROM lineitem) li ON p_partkey = l_partkey
    """,
    description="U3 membership partition into verified/unverified "
    "(reference dwwFront.js:178-192)",
)
def u3_verified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    return p.join(li, p.p_partkey == li.l_partkey, "left").select(
        "p_partkey",
        "p_name",
        F.when(F.col("l_partkey").isNotNull(), F.lit("verified"))
        .otherwise(F.lit("unverified"))
        .alias("status"),
    )
