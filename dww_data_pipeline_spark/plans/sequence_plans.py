"""Sequence/window query surface (SURVEY §2.5 W1-W8, §2.4 A5/A6
density) mapped onto the test schema: entity=customer, timeline=orders
ordered by (o_orderdate, o_orderkey), tracked value=o_orderpriority.

This mirrors the reference's person/company/release timeline exactly:
'customer changes order priority' ≡ 'person changes company' (W1
jumps, GetWeta.py:587-673), with o_orderkey as the deterministic
tie-break (SURVEY §7.3 order-dependency hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.operators import density as density_ops
from dww_data_pipeline_spark.operators import sequence as seq
from dww_data_pipeline_spark.plans.registry import register
from dww_data_pipeline_spark.sources.catalog import load_table

_ORDER = ["o_orderdate", "o_orderkey"]


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders")


def _fmt_date(col: str):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(col)


@register(
    "w1_jumps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           o_orderpriority
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ) WHERE prev IS NULL OR o_orderpriority <> prev
    """,
    description="W1 jump detection: change-point on tracked value per entity "
    "timeline (reference SetJumpRoles GetWeta.py:587-673, dwwApi.js:100-107)",
)
def w1_jumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    out = seq.jumps(o, "o_custkey", "o_orderpriority", _ORDER)
    return out.select("o_custkey", "o_orderkey", _fmt_date("o_orderdate"), "o_orderpriority")


@register(
    "w2_run_lengths",
    oracle="""
    SELECT o_custkey, CAST(run_id AS BIGINT) AS run_id, o_orderpriority, COUNT(*) AS run_length
    FROM (
      SELECT o_custkey, o_orderpriority,
             SUM(CASE WHEN prev IS NULL OR o_orderpriority <> prev THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS run_id
      FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               lag(o_orderpriority) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev
        FROM orders
      )
    )
    GROUP BY o_custkey, run_id, o_orderpriority
    """,
    description="W2 consecutive-stay run lengths via gaps-and-islands "
    "(reference GetWeta.py:663-669)",
)
def w2_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    out = seq.run_lengths(o, "o_custkey", "o_orderpriority", _ORDER)
    return out.select(
        "o_custkey", F.col("run_id").cast("long").alias("run_id"), "o_orderpriority", "run_length"
    )


@register(
    "w3_consecutive_pairs",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderpriority,
           next_orderkey, next_priority
    FROM (
      SELECT o_custkey, o_orderkey, o_orderpriority,
             lead(o_orderkey) OVER w AS next_orderkey,
             lead(o_orderpriority) OVER w AS next_priority
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    WHERE next_orderkey IS NOT NULL AND o_orderpriority <> next_priority
    """,
    description="W3 consecutive-credit pairing with same-value drop "
    "(reference pathCreator.js:33-49 movement arcs)",
)
def w3_consecutive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    out = seq.consecutive_pairs(
        o, "o_custkey", _ORDER, ["o_orderkey", "o_orderpriority"],
        drop_same_on="o_orderpriority",
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_orderpriority",
        F.col("next_o_orderkey").alias("next_orderkey"),
        F.col("next_o_orderpriority").alias("next_priority"),
    )


@register(
    "w4_directional_in",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderpriority
    FROM (
      SELECT o_custkey, o_orderkey, o_orderpriority,
             lead(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS nxt
      FROM orders
    )
    WHERE lower(nxt) = lower('1-URGENT') AND lower(o_orderpriority) <> lower('1-URGENT')
    """,
    description="W4 directional in-jump filter: predecessor rows of target "
    "(reference dwwApi.js:264-271)",
)
def w4_directional_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    out = seq.directional_filter(
        o, "o_custkey", _ORDER, "o_orderpriority", "1-URGENT", "in"
    )
    return out.select("o_custkey", "o_orderkey", "o_orderpriority")


@register(
    "w4_directional_out",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderpriority
    FROM (
      SELECT o_custkey, o_orderkey, o_orderpriority,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prv
      FROM orders
    )
    WHERE lower(prv) = lower('1-URGENT') AND lower(o_orderpriority) <> lower('1-URGENT')
    """,
    description="W4 directional out-jump filter: successor rows of target "
    "(reference dwwApi.js:272-280)",
)
def w4_directional_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    out = seq.directional_filter(
        o, "o_custkey", _ORDER, "o_orderpriority", "1-URGENT", "out"
    )
    return out.select("o_custkey", "o_orderkey", "o_orderpriority")


@register(
    "w5_dummy_departures",
    oracle="""
    SELECT o_custkey, o_orderkey, ts_ms, dummy FROM (
      SELECT o_custkey, o_orderkey,
             epoch_ms(o_orderdate) AS ts_ms, FALSE AS dummy,
             lead(epoch_ms(o_orderdate)) OVER w AS next_ms
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    UNION ALL
    SELECT o_custkey, o_orderkey, next_ms - 3 * 86400000 AS ts_ms, TRUE AS dummy FROM (
      SELECT o_custkey, o_orderkey,
             lead(epoch_ms(o_orderdate)) OVER w AS next_ms
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ) WHERE next_ms IS NOT NULL
    """,
    description="W5 dummy-rel synthesis: synthetic departure row between "
    "consecutive credits at next_ts - trip_days*86400000 (reference "
    "dwwApi.js:281-293; fixed 3-day trip for the oracle)",
)
def w5_dummy_departures(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir).select(
        "o_custkey",
        "o_orderkey",
        (F.unix_timestamp("o_orderdate") * 1000).cast("long").alias("ts_ms"),
        F.col("o_orderdate"),
    )
    out = seq.dummy_departures(
        o.select("o_custkey", "o_orderkey", "ts_ms", "o_orderdate"),
        "o_custkey",
        _ORDER,
        "ts_ms",
        F.lit(3),
    )
    return out.select("o_custkey", "o_orderkey", "ts_ms", "dummy")


@register(
    "w8_nested_documents",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           string_agg(
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '#' || o_orderkey || '#' || o_orderpriority,
             '|' ORDER BY strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '#' || o_orderkey || '#' || o_orderpriority
           ) AS timeline
    FROM orders
    GROUP BY o_custkey
    """,
    description="W8/S8 per-entity document nesting with deterministic "
    "in-array order (reference dwwApi.js:80-139; order hazard fixed via "
    "sort_array — SURVEY §4 'sort-based grouping')",
)
def w8_nested_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    rel = F.concat_ws(
        "#",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.col("o_orderkey").cast("string"),
        F.col("o_orderpriority"),
    )
    return (
        o.select("o_custkey", rel.alias("rel"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.concat_ws("|", F.sort_array(F.collect_list("rel"))).alias("timeline"),
        )
    )


# ---------------------------------------------------------------------------
# Density A5/A6 (reference densityCalc.js:60-121)
# ---------------------------------------------------------------------------


@register(
    "a5_density",
    oracle="""
    SELECT o_orderpriority, fill_year, COUNT(DISTINCT o_custkey) AS headcount
    FROM (
      SELECT o_custkey, o_orderpriority,
             unnest(generate_series(yr, fill_end)) AS fill_year
      FROM (
        SELECT o_custkey, o_orderpriority, yr,
               CASE WHEN next_yr IS NULL OR next_yr <= yr THEN yr
                    ELSE least(next_yr - 1, yr + 50) END AS fill_end
        FROM (
          SELECT o_custkey, o_orderpriority,
                 year(o_orderdate) AS yr,
                 lead(year(o_orderdate)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ) AS next_yr
          FROM orders
        )
      )
    )
    GROUP BY o_orderpriority, fill_year
    """,
    description="A5 density build: per-(group, year) headcount with forward "
    "range fill until next credit, clamped span (reference "
    "densityCalc.js:60-90; guard per SURVEY §7.3)",
)
def a5_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    dens = density_ops.density(
        o,
        entity="o_custkey",
        group_cols=["o_orderpriority"],
        year_col="yr",
        order=_ORDER,
    )
    return dens.select("o_orderpriority", "fill_year", "headcount")


@register(
    "a6_density_report",
    oracle="""
    WITH dens AS (
      SELECT o_orderpriority, fill_year, COUNT(DISTINCT o_custkey) AS headcount
      FROM (
        SELECT o_custkey, o_orderpriority,
               unnest(generate_series(yr, fill_end)) AS fill_year
        FROM (
          SELECT o_custkey, o_orderpriority, yr,
                 CASE WHEN next_yr IS NULL OR next_yr <= yr THEN yr
                      ELSE least(next_yr - 1, yr + 50) END AS fill_end
          FROM (
            SELECT o_custkey, o_orderpriority,
                   year(o_orderdate) AS yr,
                   lead(year(o_orderdate)) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS next_yr
            FROM orders
          )
        )
      )
      GROUP BY o_orderpriority, fill_year
    )
    SELECT o_orderpriority, fill_year, headcount,
           (SELECT CAST(SUM(headcount) AS BIGINT) FROM dens WHERE fill_year = 1998
              AND o_orderpriority <> '') AS total
    FROM dens WHERE fill_year = 1998
    """,
    description="A6 density report: one year's breakdown + total excluding "
    "the unmapped '' bucket (reference densityCalc.js:101-121)",
)
def a6_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    dens = density_ops.density(
        o, entity="o_custkey", group_cols=["o_orderpriority"], year_col="yr", order=_ORDER
    )
    report = density_ops.density_report(dens, 1998, "o_orderpriority")
    return report.select("o_orderpriority", "fill_year", "headcount", "total")
