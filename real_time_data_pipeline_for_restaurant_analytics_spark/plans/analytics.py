"""Analytical query surface (SURVEY §2.3 joins, §2.4 aggregations).

The reference's analytical layer is 26 Power-BI KPIs over the
consumption star schema (`README.md:108-135`) plus the ad-hoc
group-counts in `final_proc.sql:64-76`. Each query here maps one of
those operator shapes onto the driver testdata star schema
(region/nation/customer/supplier/part/orders/lineitem/events) and
carries a DuckDB oracle.

Numeric-parity rules (so the driver's value-hash matches):
- doubles are cast to DECIMAL at the scan; all arithmetic stays in
  DECIMAL (exact, order-insensitive) — never sum raw doubles.
- every computed column is explicitly aliased AND explicitly typed on
  both the Spark and oracle side.
- timestamps are emitted as formatted strings or integer smart keys.
- RESULT columns never expose DECIMAL or plain-INT: DuckDB's pandas
  conversion coerces every DECIMAL (and bare SUM() HUGEINT) to
  float64 while Spark collects Decimal/int32 — representation, not
  value, then breaks the driver's hash (round-1 lesson). Final
  projections emit exact decimals as canonical STRINGs (both engines
  format DECIMAL(p,s)→string identically, trailing zeros included),
  ratios as scaled-integer BIGINT (ppm/cents), and counts as BIGINT.

Scale notes: filters are expressed on scan columns so they push to
parquet; dims (region/nation/customer) join via broadcast; aggregates
are partial (map-side combine) by construction of groupBy.agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import load
from ..functions.casts import ppm_floor
from ..functions.enrich import flag_in, mask_columns, tier_bucket
from ..functions.keys import hash_hex, hash_key, smart_date_key, smart_time_key
from ..registry import register

# Decimal shapes used at the scan boundary.
MONEY = "decimal(14,2)"  # prices / totals
RATE = "decimal(8,4)"  # discount / tax fractions
QTY = "decimal(12,2)"


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem with doubles decimalized at the scan (column pruning
    still applies — Catalyst prunes unused casts)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        F.col("l_quantity").cast(QTY).alias("l_quantity"),
        F.col("l_extendedprice").cast(MONEY).alias("l_extendedprice"),
        F.col("l_discount").cast(RATE).alias("l_discount"),
        F.col("l_tax").cast(RATE).alias("l_tax"),
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.withColumn("o_totalprice", F.col("o_totalprice").cast(MONEY))


# ---------------------------------------------------------------------------
# q01 — pricing summary (flagship). Operators: S1 scan w/ pushdown, P1
# casts, A5 aggregate family (sum/avg-as-decimal/count), A6 order.
# Reference shape: the KPI revenue/AOV family, README.md:108-135.
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS VARCHAR) AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS VARCHAR) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
        * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DECIMAL(26,6)) AS VARCHAR) AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
        * (1 - CAST(l_discount AS DECIMAL(8,4)))
        * (1 + CAST(l_tax AS DECIMAL(8,4)))) AS DECIMAL(30,10)) AS VARCHAR) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="Pricing summary over lineitem (decimal-exact aggregate family).",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("decimal(22,2)").cast("string").alias("sum_qty"),
            F.sum("l_extendedprice").cast("decimal(22,2)").cast("string").alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(26,6)").cast("string").alias("sum_disc_price"),
            F.sum(charge).cast("decimal(30,10)").cast("string").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q02 — top customers by revenue. Operators: J1 fact→dim broadcast
# join, A2 group-count/sum + ORDER BY DESC, A6 top-k.
# Reference shape: "most valuable customer" KPI + final_proc.sql:71-76.
# ---------------------------------------------------------------------------
@register(
    "q02_top_customers",
    oracle="""
WITH t AS (
  SELECT c.c_custkey, c.c_name,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS revenue,
         COUNT(*) AS n_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_name
  ORDER BY revenue DESC, c_custkey
  LIMIT 10
)
SELECT c_custkey, c_name, CAST(revenue AS VARCHAR) AS revenue, n_orders
FROM t ORDER BY c_custkey
""",
    doc="Top-10 customers by total spend (broadcast dim join + top-k).",
)
def q02_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    return (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum("o_totalprice").cast("decimal(22,2)").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
        .withColumn("revenue", F.col("revenue").cast("string"))
    )


# ---------------------------------------------------------------------------
# q03 — revenue by region (star join). Operators: J5 multi-dim star
# join (orders⋈customer⋈nation⋈region), A5 sum + countDistinct.
# Reference shape: "revenue per state/city" KPIs (README KPIs 5-7).
# ---------------------------------------------------------------------------
@register(
    "q03_revenue_by_region",
    oracle="""
SELECT r.r_name AS region,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS VARCHAR) AS revenue,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o.o_custkey) AS n_customers
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY region
""",
    doc="Star-schema revenue rollup region←nation←customer←orders.",
)
def q03_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum("o_totalprice").cast("decimal(22,2)").cast("string").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q04 — conditional-count rates per segment. Operators: A5 conditional
# counts (count(when)) → rate. Reference shape: cancellation-rate /
# delivery-status-distribution KPIs (README KPIs 17, 26).
# Rates emitted as exact integer parts-per-million (bigint) to avoid
# cross-engine float division.
# ---------------------------------------------------------------------------
@register(
    "q04_segment_order_rates",
    oracle="""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_orders,
       COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS n_finished,
       COUNT(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS n_open,
       CAST(FLOOR(CAST(COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS DECIMAL(20,6))
            * 1000000 / COUNT(*)) AS BIGINT) AS finished_ppm
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY segment
""",
    doc="Order-status rates per market segment (conditional counts).",
)
def q04_segment_order_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n_finished = F.count(F.when(F.col("o_orderstatus") == "F", 1))
    return (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            n_finished.alias("n_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.floor(n_finished.cast("decimal(20,6)") * 1000000 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("finished_ppm"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q05 — YoY revenue growth. Operators: A5 lag window over yearly agg.
# Reference shape: "yearly revenue growth %" KPI (README KPI 13).
# Growth emitted in exact ppm via decimal division on cent-integers.
# ---------------------------------------------------------------------------
@register(
    "q05_yoy_revenue_growth",
    oracle="""
WITH yearly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS revenue
  FROM orders GROUP BY 1
)
SELECT order_year,
       CAST(revenue AS VARCHAR) AS revenue,
       CAST(LAG(revenue) OVER (ORDER BY order_year) AS VARCHAR) AS prev_revenue,
       CAST(FLOOR(CAST((revenue - LAG(revenue) OVER (ORDER BY order_year)) AS DECIMAL(30,8))
            * 1000000 / LAG(revenue) OVER (ORDER BY order_year)) AS BIGINT) AS growth_ppm
FROM yearly ORDER BY order_year
""",
    doc="Yearly revenue + lag-window growth in ppm.",
)
def q05_yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    yearly = o.groupBy(F.year("o_orderdate").cast("bigint").alias("order_year")).agg(
        F.sum("o_totalprice").cast("decimal(22,2)").alias("revenue")
    )
    w = Window.orderBy("order_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "order_year",
        F.col("revenue").cast("string").alias("revenue"),
        prev.cast("string").alias("prev_revenue"),
        F.floor((F.col("revenue") - prev).cast("decimal(30,8)") * 1000000 / prev)
        .cast("bigint")
        .alias("growth_ppm"),
    ).orderBy("order_year")


# ---------------------------------------------------------------------------
# q06 — top spender per nation. Operators: A5 row_number top-1 per
# group. Reference shape: "most valuable customer" KPI (README KPI 20).
# ---------------------------------------------------------------------------
@register(
    "q06_top_spender_per_nation",
    oracle="""
WITH spend AS (
  SELECT n.n_name AS nation, c.c_custkey, c.c_name,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS spend
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY nation ORDER BY spend DESC, c_custkey) AS rn
  FROM spend
)
SELECT nation, c_custkey, c_name, CAST(spend AS VARCHAR) AS spend
FROM ranked WHERE rn = 1 ORDER BY nation
""",
    doc="Top-1 spender per nation via row_number window.",
)
def q06_top_spender_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    spend = (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey", "c_name")
        .agg(F.sum("o_totalprice").cast("decimal(22,2)").alias("spend"))
    )
    w = Window.partitionBy("nation").orderBy(F.desc("spend"), "c_custkey")
    return (
        spend.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("nation", "c_custkey", "c_name", F.col("spend").cast("string").alias("spend"))
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q07 — hourly event histogram. Operators: A5 date_trunc-hour groupBy
# (deliveries-per-hour KPI, README KPI 25); P15 smart keys.
# ---------------------------------------------------------------------------
@register(
    "q07_hourly_event_histogram",
    oracle="""
SELECT CAST(strftime(ts, '%Y%m%d%H') AS BIGINT) AS hour_key,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS total_value
FROM events
GROUP BY 1 ORDER BY hour_key
""",
    doc="Events per hour + decimal-exact value totals (tumbling-window analog).",
)
def q07_hourly_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format("ts", "yyyyMMddHH").cast("bigint").alias("hour_key"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("string")
            .alias("total_value"),
        )
        .orderBy("hour_key")
    )


# ---------------------------------------------------------------------------
# q08 — DISTINCT dedup before merge. Operators: P18/C6
# (`delivery_agent_proc.sql:140-154`).
# ---------------------------------------------------------------------------
@register(
    "q08_distinct_user_event",
    oracle="SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
    doc="SELECT DISTINCT projection (the reference's pre-merge dedup).",
)
def q08_distinct_user_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates().orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# q09 — hash surrogate keys. Operators: P12
# (`02 Location Entity.sql:299`, `customer_proc.sql:249-251`).
# md5-hex + 60-bit fold, reproducible in any engine.
# ---------------------------------------------------------------------------
@register(
    "q09_hash_surrogate_keys",
    oracle="""
SELECT c_custkey,
       md5(CAST(c_custkey AS VARCHAR) || c_name || CAST(c_nationkey AS VARCHAR)) AS ckey_hex,
       CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || c_name
             || CAST(c_nationkey AS VARCHAR)), 1, 15)) AS BIGINT) AS ckey
FROM customer ORDER BY c_custkey
""",
    doc="Hash surrogate key scheme (md5 of concatenated business-key tuple).",
)
def q09_hash_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        hash_hex("c_custkey", "c_name", "c_nationkey").alias("ckey_hex"),
        hash_key("c_custkey", "c_name", "c_nationkey").alias("ckey"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# q10 — masked consumption view. Operators: P17 masking policies
# (`01 Create DB+Schema.sql:42-60`), view-layer rewrite.
# ---------------------------------------------------------------------------
@register(
    "q10_masked_customers",
    oracle="""
SELECT c_custkey, '** PII **' AS c_name, c_mktsegment,
       CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS VARCHAR) AS c_acctbal
FROM customer ORDER BY c_custkey
""",
    doc="PII-masked view of the customer dim.",
)
def q10_masked_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("c_acctbal").cast(MONEY).cast("string").alias("c_acctbal"),
    )
    return mask_columns(c, {"c_name": "** PII **"}).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# q11 — CASE enrichment ladder. Operators: P3 code mapping, P4
# membership flag, P6 tier bucketing (`02:94-166`).
# ---------------------------------------------------------------------------
_REGION_CODE = {
    "AFRICA": "AF",
    "AMERICA": "AM",
    "ASIA": "AS",
    "EUROPE": "EU",
    "MIDDLE EAST": "ME",
}
_TIER1_SEGMENTS = ["AUTOMOBILE", "BUILDING"]
_TIER2_SEGMENTS = ["MACHINERY", "FURNITURE"]


@register(
    "q11_nation_enrichment",
    oracle="""
SELECT n.n_name AS nation,
       r.r_name AS region,
       CASE r.r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
            WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
            WHEN 'MIDDLE EAST' THEN 'ME' ELSE 'XX' END AS region_code,
       CASE WHEN r.r_name IN ('ASIA', 'MIDDLE EAST') THEN 'Y' ELSE 'N' END AS is_eastern,
       COUNT(*) AS n_customers,
       CASE WHEN c.c_mktsegment IN ('AUTOMOBILE','BUILDING') THEN 'Tier-1'
            WHEN c.c_mktsegment IN ('MACHINERY','FURNITURE') THEN 'Tier-2'
            ELSE 'Tier-3' END AS segment_tier
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3, 4, 6
ORDER BY nation, segment_tier
""",
    doc="CASE mapping / membership flag / tier bucketing (the location-entity enrichment ladder).",
)
def q11_nation_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.enrich import case_map

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            case_map("r_name", _REGION_CODE, F.lit("XX")).alias("region_code"),
            flag_in("r_name", ["ASIA", "MIDDLE EAST"]).alias("is_eastern"),
            tier_bucket(
                "c_mktsegment",
                {"Tier-1": _TIER1_SEGMENTS, "Tier-2": _TIER2_SEGMENTS},
                "Tier-3",
            ).alias("segment_tier"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            "nation", "region", "region_code", "is_eastern", "n_customers", "segment_tier"
        )
        .orderBy("nation", "segment_tier")
    )


# ---------------------------------------------------------------------------
# q12 — semi-structured extraction + constant fill. Operators: S3
# variant path extraction (`delivery_agent_proc.sql:117-127`), P1
# try-cast, P16 constant fill (`09:166-168`).
# ---------------------------------------------------------------------------
@register(
    "q12_props_extract_fill",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       COALESCE(json_extract_string(props, '$.missing'), 'Not Applied') AS missing_filled
FROM events WHERE event_id % 10 = 0 ORDER BY event_id
""",
    doc="JSON variant path extraction + try-cast + NULL constant fill.",
)
def q12_props_extract_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_id") % 10 == 0)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").try_cast("bigint").alias("k_val"),
            F.coalesce(F.get_json_object("props", "$.missing"), F.lit("Not Applied")).alias(
                "missing_filled"
            ),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q13 — datetime-part enrichment + smart keys. Operators: P14/P15
# (`login-audit_proc.sql:157-160, 255-256`).
# ---------------------------------------------------------------------------
@register(
    "q13_datetime_parts",
    oracle="""
SELECT event_id,
       CAST(EXTRACT(hour FROM ts) AS INT) AS event_hour,
       dayname(ts) AS event_day,
       monthname(ts) AS event_month,
       CAST(EXTRACT(year FROM ts) AS INT) AS event_year,
       CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS date_key,
       CAST(strftime(ts, '%H%M%S') AS BIGINT) AS time_key
FROM events WHERE event_id % 10 = 1 ORDER BY event_id
""",
    doc="Datetime part extraction (hour/dayname/monthname/year) + smart date/time keys.",
)
def q13_datetime_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_id") % 10 == 1)
        .select(
            "event_id",
            F.hour("ts").alias("event_hour"),
            F.date_format("ts", "EEEE").alias("event_day"),
            F.date_format("ts", "MMMM").alias("event_month"),
            F.year("ts").alias("event_year"),
            smart_date_key("ts").alias("date_key"),
            smart_time_key("ts").alias("time_key"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q14 — anti-join (customers with no orders). Operators: the
# WHEN-NOT-MATCHED side of MERGE (C3) surfaced as a standalone
# anti-join; J-family.
# ---------------------------------------------------------------------------
# Scoped to recent orders: the unrestricted form matched 0 rows at
# sf0.01 (every customer has some order in this generator), making the
# oracle pass vacuous — the window makes the anti-join observable.
_Q14_CUTOFF = "1999-01-01"


@register(
    "q14_customers_without_orders",
    oracle=f"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '{_Q14_CUTOFF}'
)
ORDER BY c_custkey
""",
    doc="Left-anti join (customers with no order since a cutoff): the "
    "NOT-MATCHED branch of the reference's MERGE as a query.",
)
def q14_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(_Q14_CUTOFF).cast("timestamp_ntz")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q15 — HAVING audit. Operators: A4 duplicate/fan-out audit
# (`menu_proc.sql:310`).
# ---------------------------------------------------------------------------
@register(
    "q15_wide_orders_audit",
    oracle="""
SELECT l_orderkey, COUNT(*) AS n_lines
FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 5
ORDER BY l_orderkey
""",
    doc="GROUP BY ... HAVING count(*) audit (the duplicate-key check shape).",
)
def q15_wide_orders_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines") > 5)
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# q16 — monthly retention/churn. Operators: A5 activity-window KPIs
# (README KPIs 11-12): users active in month M AND M+1.
# ---------------------------------------------------------------------------
@register(
    "q16_user_retention",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, CAST(strftime(ts, '%Y%m') AS BIGINT) AS month_key
  FROM events
)
SELECT a.month_key,
       COUNT(*) AS active_users,
       COUNT(CASE WHEN b.user_id IS NOT NULL THEN 1 END) AS retained_next_month
FROM activity a
LEFT JOIN activity b
  ON a.user_id = b.user_id
 AND b.month_key = a.month_key + CASE WHEN a.month_key % 100 = 12 THEN 89 ELSE 1 END
GROUP BY a.month_key ORDER BY a.month_key
""",
    doc="Month-over-month retention (distinct activity windows + self-join).",
)
def q16_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.date_format("ts", "yyyyMM").cast("bigint").alias("month_key")
    ).dropDuplicates()
    nxt = F.when(F.col("a.month_key") % 100 == 12, F.col("a.month_key") + 89).otherwise(
        F.col("a.month_key") + 1
    )
    a = activity.alias("a")
    b = activity.alias("b")
    return (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & (F.col("b.month_key") == nxt), "left")
        .groupBy(F.col("a.month_key").alias("month_key"))
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.when(F.col("b.user_id").isNotNull(), 1)).alias("retained_next_month"),
        )
        .orderBy("month_key")
    )


@register(
    "q62_event_funnel",
    oracle="""
WITH w1 AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
             OVER (PARTITION BY user_id) AS t_view
  FROM events
), w2 AS (
  SELECT user_id, ts, event_type, t_view,
         MIN(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
             OVER (PARTITION BY user_id) AS t_click
  FROM w1
), w3 AS (
  SELECT user_id, t_view, t_click,
         MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
             OVER (PARTITION BY user_id) AS t_purchase
  FROM w2
), u AS (
  SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
         MIN(t_purchase) AS t_purchase
  FROM w3 GROUP BY user_id
), agg AS (
  SELECT CAST(COUNT(t_view) AS BIGINT) AS n1,
         CAST(COUNT(t_click) AS BIGINT) AS n2,
         CAST(COUNT(t_purchase) AS BIGINT) AS n3
  FROM u
)
SELECT '1_view' AS stage, n1 AS n_users, CAST(1000000 AS BIGINT) AS conv_from_prev_ppm FROM agg
UNION ALL
SELECT '2_click', n2,
       CASE WHEN n1 = 0 THEN NULL
            ELSE CAST(FLOOR(1000000.0 * n2 / n1) AS BIGINT) END FROM agg
UNION ALL
SELECT '3_purchase', n3,
       CASE WHEN n2 = 0 THEN NULL
            ELSE CAST(FLOOR(1000000.0 * n3 / n2) AS BIGINT) END FROM agg
ORDER BY stage
""",
    doc="Ordered conversion funnel view→click→purchase: each stage's "
    "timestamp must be at-or-after the previous stage's (per user), "
    "computed with three same-partition window passes — ONE shuffle on "
    "user_id total, then a scalar aggregate.",
)
def q62_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel semantics: t_view = user's first view; t_click = first
    click at-or-after t_view; t_purchase = first purchase at-or-after
    t_click. The three windows share one partitioning (user_id), so
    Catalyst plans a single exchange feeding three Window nodes — the
    per-event filters never leave the partition."""
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    s1 = e.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    u = s3.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    agg = u.agg(
        F.count("t_view").alias("n1"),
        F.count("t_click").alias("n2"),
        F.count("t_purchase").alias("n3"),
    )
    return (
        agg.select(
            F.expr(
                # explicit zero-stage guards: NULL conversion from an
                # empty stage in BOTH engines (and no divide-by-zero
                # error under Spark ANSI mode or DuckDB)
                "stack(3,"
                " '1_view', n1, CAST(1000000 AS BIGINT),"
                " '2_click', n2, CASE WHEN n1 = 0 THEN NULL"
                "   ELSE CAST(FLOOR(1000000.0 * n2 / n1) AS BIGINT) END,"
                " '3_purchase', n3, CASE WHEN n2 = 0 THEN NULL"
                "   ELSE CAST(FLOOR(1000000.0 * n3 / n2) AS BIGINT) END)"
                " AS (stage, n_users, conv_from_prev_ppm)"
            )
        )
        .orderBy("stage")
    )


@register(
    "q94_hopping_window",
    oracle="""
WITH w AS (
  SELECT (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - 900 * k.k) AS ws, value
  FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT ws AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0) AS BIGINT)
         AS value_cents
FROM w GROUP BY ws ORDER BY ws
""",
    doc="Hopping-window aggregation (1 h windows sliding every 15 min) "
    "over the event stream — the batch twin of the streaming windowed "
    "KPI (each event lands in exactly 4 windows; Spark's EXPAND emits "
    "the replicas map-side, partial-aggregates, and shuffles only "
    "window keys). Window starts as epoch-second BIGINT.",
)
def q94_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``F.window(ts, "1 hour", "15 minutes")`` —
    identical window-start math to Structured Streaming's sliding
    windows (streaming/windows.py's hourly KPI is the 1-window/event
    special case), so this plan is the drop-in batch backfill for that
    stream. Reference analog: the consumption layer's hourly KPI
    dashboards (SURVEY §3.3) generalized to overlapping windows."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.coalesce(
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("value_cents"),
        )
        .select(
            F.col("win.start").cast("timestamp").cast("long").alias("window_start"),
            "n_events",
            "value_cents",
        )
        .orderBy("window_start")
    )


@register(
    "q96_event_cooccurrence",
    oracle="""
WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
p AS (
  SELECT a.event_type AS type1, b.event_type AS type2,
         CAST(COUNT(*) AS BIGINT) AS n_users_both
  FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type1, type2, n_users_both,
       CAST(1000 * n_users_both AS BIGINT) // u.n_users AS support_permille
FROM p, u ORDER BY type1, type2
""",
    doc="Event-type co-occurrence mining: users performing both of "
    "each type pair, with integer-permille support — the market-basket "
    "support scan. DISTINCT (user,type) first (one shuffle, bounds the "
    "self-join at |types|² rows per user regardless of event volume), "
    "pair counts are |types|²-sized, the user total rides in as a "
    "1-row broadcast cross join.",
)
def q96_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    d = e.select("user_id", "event_type").distinct()
    u = e.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    a = d.select(F.col("user_id"), F.col("event_type").alias("type1"))
    b = d.select(F.col("user_id").alias("uid2"), F.col("event_type").alias("type2"))
    pairs = (
        a.join(b, (F.col("user_id") == F.col("uid2")) & (F.col("type1") < F.col("type2")))
        .groupBy("type1", "type2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users_both"))
    )
    return (
        pairs.crossJoin(F.broadcast(u))
        .select(
            "type1",
            "type2",
            "n_users_both",
            F.expr("(1000 * n_users_both) DIV n_users").cast("bigint").alias("support_permille"),
        )
        .orderBy("type1", "type2")
    )


# ---------------------------------------------------------------------------
# q104 — event-transition matrix (Markov flow). Extends the A5 KPI
# family's funnel/retention reads (`README.md:108-135`) with the
# session-flow view the reference's Power BI layer implies.
# ---------------------------------------------------------------------------
def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user consecutive event-type transitions with per-state
    probabilities: for each (prev_type → event_type) pair, the count
    and the integer-permille share of all transitions leaving
    prev_type (the Markov row-normalization).

    Scale shape: ONE shuffle on user_id for the lag window (events
    stream through each user partition in (ts, event_id) order — the
    deterministic tie-break); pair counts partial-aggregate map-side
    to the |types|² matrix, and the row normalization is a window over
    that tiny matrix, not the event stream.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = t.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    row_total = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n_transitions",
        F.expr("CAST(n_transitions * 1000 AS BIGINT)")
        .alias("_num"),
        F.sum("n_transitions").over(row_total).alias("_den"),
    ).select(
        "prev_type",
        "event_type",
        "n_transitions",
        F.expr("_num div _den").cast("bigint").alias("permille_of_prev"),
    )


@register(
    "q104_event_transitions",
    oracle="""
WITH t AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
c AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM t WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n_transitions,
       CAST(CAST(n_transitions * 1000 AS BIGINT)
         // SUM(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT) AS permille_of_prev
FROM c ORDER BY prev_type, event_type
""",
    doc="Event-transition matrix (Markov flow): per-user consecutive "
    "event-type pairs with integer-permille per-state transition "
    "probabilities — one lag-window shuffle on user_id, matrix-sized "
    "aggregation, row normalization over the |types|² matrix only.",
)
def q104_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return event_transitions(e).orderBy("prev_type", "event_type")


# ---------------------------------------------------------------------------
# q105 — weekly cohort retention matrix. The cohort generalization of
# the reference's churn/3-month-retention KPIs (`README.md` KPI list);
# weeks (epoch-day DIV 7) because the event epoch spans one month.
# ---------------------------------------------------------------------------
def cohort_retention(events: DataFrame) -> DataFrame:
    """Classic cohort grid: users grouped by first-activity week
    (epoch-week integer), counted in each later week they were active,
    with integer-permille retention vs the cohort size.

    Scale shape: distinct (user, week) first (one shuffle, bounds all
    later work by users × weeks); cohort = min week per user (partial
    min, same shuffle key); the grid and cohort sizes are
    weeks²-sized, joined broadcast. Engine-exact week arithmetic:
    epoch-day DIV 7 (no locale week-start dependence).
    """
    uw = events.select(
        "user_id",
        F.expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7 AS BIGINT)").alias("week"),
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    grid = (
        uw.join(first, "user_id")
        .groupBy("cohort_week", F.expr("week - cohort_week").alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        grid.join(broadcast(sizes), "cohort_week")
        .select(
            F.col("cohort_week").cast("bigint").alias("cohort_week"),
            F.col("week_offset").cast("bigint").alias("week_offset"),
            "n_active",
            "cohort_size",
            F.expr("CAST(n_active * 1000 AS BIGINT) div cohort_size")
            .cast("bigint")
            .alias("retention_permille"),
        )
    )


@register(
    "q105_cohort_retention",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
grid AS (
  SELECT f.cohort_week, u.week - f.cohort_week AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM uw u JOIN first f USING (user_id)
  GROUP BY 1, 2
),
sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM first GROUP BY cohort_week)
SELECT CAST(g.cohort_week AS BIGINT) AS cohort_week,
       CAST(g.week_offset AS BIGINT) AS week_offset,
       g.n_active, s.cohort_size,
       CAST(g.n_active * 1000 AS BIGINT) // s.cohort_size AS retention_permille
FROM grid g JOIN sizes s USING (cohort_week)
ORDER BY cohort_week, week_offset
""",
    doc="Weekly cohort retention matrix (first-activity week × week "
    "offset, integer-permille retention) — the cohort generalization "
    "of the reference's churn/retention KPIs; one distinct shuffle on "
    "(user, week), weeks²-sized grid, broadcast cohort sizes.",
)
def q105_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return cohort_retention(e).orderBy("cohort_week", "week_offset")


# ---------------------------------------------------------------------------
# q116 — headline KPI card (A5). The kpi_summary consumption builder
# (plans/kpis.py:83, KPIs 1-4/6-9, README.md:108-135) as a driver-
# oracled twin: one single-row multi-aggregate scalar card. One scan,
# one partial-aggregated reduce to a single row — the cheapest KPI
# shape at any scale.
# ---------------------------------------------------------------------------
@register(
    "q116_headline_kpis",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS VARCHAR)
         AS total_revenue,
       CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,6))
            * 100 / COUNT(*)) AS BIGINT) AS aov_cents,
       CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS VARCHAR)
         AS max_order,
       CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,6))
            * 100 / COUNT(DISTINCT o_custkey)) AS BIGINT) AS revenue_per_customer_cents
FROM orders
""",
    doc="Headline KPI scalar card: order count, distinct customers, "
    "decimal-exact total revenue, average order value and "
    "revenue-per-customer in integer cents, max order — the "
    "kpi_summary single-row shape (KPIs 1-4/6-9) over driver tables.",
)
def q116_headline_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    total = F.sum("o_totalprice")
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        total.cast("decimal(22,2)").cast("string").alias("total_revenue"),
        F.floor(total.cast("decimal(22,6)") * 100 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("aov_cents"),
        F.max("o_totalprice").cast("decimal(14,2)").cast("string").alias("max_order"),
        F.floor(total.cast("decimal(22,6)") * 100 / F.countDistinct("o_custkey"))
        .cast("bigint")
        .alias("revenue_per_customer_cents"),
    )


# ---------------------------------------------------------------------------
# q117 — fulfillment lag per priority (A5). The avg_delivery_time
# consumption builder (plans/kpis.py:262, README KPI "average delivery
# time") as a driver-oracled twin: order→line time difference
# aggregated per priority class. Exact integer day-diffs (no float
# averaging): avg emitted as ppm of days. lineitem⋈orders is the
# fact⋈fact join both engines hash on l_orderkey; the per-priority
# reduce is partial-aggregated.
# ---------------------------------------------------------------------------
@register(
    "q117_fulfillment_lag",
    oracle="""
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(FLOOR(CAST(SUM(date_diff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE))) AS DECIMAL(20,6))
            * 1000000 / COUNT(*)) AS BIGINT) AS avg_lag_days_ppm,
       CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE))) AS BIGINT) AS max_lag_days
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY priority
""",
    doc="Average and max order→ship lag in days per order priority "
    "(integer day-diffs, ppm average) — the avg_delivery_time KPI "
    "shape over driver tables.",
)
def q117_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.floor(F.sum(lag).cast("decimal(20,6)") * 1000000 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("avg_lag_days_ppm"),
            F.max(lag).cast("bigint").alias("max_lag_days"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q118 — order-item statistics (A5, agg-of-agg). The
# revenue_per_order_item consumption builder (plans/kpis.py:217) as a
# driver-oracled twin: per-order line counts/revenue rolled up to
# global per-basket averages. Two-level aggregate: the inner groupBy
# is the only corpus-sized shuffle; the outer reduce is one row.
# ---------------------------------------------------------------------------
@register(
    "q118_order_item_stats",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS order_rev
  FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(FLOOR(CAST(SUM(n_items) AS DECIMAL(20,6)) * 1000000 / COUNT(*)) AS BIGINT)
         AS avg_items_ppm,
       CAST(FLOOR(CAST(SUM(order_rev) AS DECIMAL(24,6)) * 100 / SUM(n_items)) AS BIGINT)
         AS avg_item_rev_cents,
       CAST(MAX(n_items) AS BIGINT) AS max_items
FROM per_order
""",
    doc="Global basket statistics from a per-order rollup: average "
    "items per order (ppm), average revenue per line item (cents), "
    "largest basket — the revenue_per_order_item KPI shape as an "
    "agg-of-agg.",
)
def q118_order_item_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_extendedprice").cast("decimal(22,2)").alias("order_rev"),
    )
    return per_order.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.floor(F.sum("n_items").cast("decimal(20,6)") * 1000000 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("avg_items_ppm"),
        F.floor(F.sum("order_rev").cast("decimal(24,6)") * 100 / F.sum("n_items"))
        .cast("bigint")
        .alias("avg_item_rev_cents"),
        F.max("n_items").cast("bigint").alias("max_items"),
    )


# ---------------------------------------------------------------------------
# q127 — priority mix with share-of-total (A5). The
# payment_method_distribution consumption builder (plans/kpis.py:131,
# README KPI "payment method distribution") as a driver-oracled twin:
# category counts plus each category's share of the whole in ppm. The
# corpus-sized shuffle is the 5-group count; the share divides by an
# unpartitioned window over the ALREADY-AGGREGATED 5-row frame, so the
# single-partition exchange moves 5 rows, not the corpus.
# ---------------------------------------------------------------------------
@register(
    "q127_priority_mix",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(FLOOR(CAST(COUNT(*) AS DECIMAL(20,6)) * 1000000
            / SUM(COUNT(*)) OVER ()) AS BIGINT) AS share_ppm,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(22,2)) AS VARCHAR)
         AS revenue
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
""",
    doc="Order-priority mix: count, integer share-of-total in ppm, and "
    "decimal-exact revenue per priority class — the "
    "payment_method_distribution KPI shape (category + percentage) "
    "over driver tables; the share window runs on the 5-row aggregate, "
    "not the corpus.",
)
def q127_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    counts = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").cast("decimal(22,2)").cast("string").alias("revenue"),
    )
    total = Window.partitionBy()
    return (
        counts.withColumn(
            "share_ppm",
            ppm_floor(F.col("n_orders"), F.sum("n_orders").over(total)),
        )
        .select("priority", "n_orders", "share_ppm", "revenue")
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q128 — revenue per supplier, top-10 (J1 + A5 + A6). The
# revenue_per_restaurant consumption builder (plans/kpis.py:188, README
# KPI "revenue per restaurant") as a driver-oracled twin: the fact
# aggregates to one row per supplier key BEFORE the dim join, so the
# broadcast join touches |suppliers| rows, not |lineitem|; the top-k is
# a TakeOrderedAndProject over the supplier-sized frame.
# ---------------------------------------------------------------------------
@register(
    "q128_supplier_revenue",
    oracle="""
SELECT s.s_suppkey, s.s_name,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
             * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(26,6)) AS VARCHAR)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
ORDER BY CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
          * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(26,6)) DESC,
         s.s_suppkey
LIMIT 10
""",
    doc="Top-10 suppliers by discounted revenue with line counts — the "
    "revenue_per_restaurant KPI shape: fact pre-aggregated to supplier "
    "grain before the broadcast dim join, top-k over the supplier-sized "
    "frame.",
)
def q128_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(26,6)")
        .alias("_rev"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        per_supp.join(broadcast(s), per_supp.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("string").alias("revenue"),
            "n_lines",
            "_rev",
        )
        .orderBy(F.desc("_rev"), "s_suppkey")
        .limit(10)
        .drop("_rev")
    )


# ---------------------------------------------------------------------------
# q129 — order-status rate per year (A5 conditional aggregate). The
# order_cancellation_rate / delivery_status_rate consumption builders
# (plans/kpis.py:175,234, README KPIs "order cancellation rate",
# "delivery status rate") as a driver-oracled twin: per order-year, the
# share of each terminal status as a conditional-count rate in ppm —
# one corpus-sized shuffle on year, rates computed inside the same
# partial-aggregated reduce (no second pass, no window).
# ---------------------------------------------------------------------------
@register(
    "q129_status_rate_by_year",
    oracle="""
SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(FLOOR(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS DECIMAL(20,6)) * 1000000 / COUNT(*)) AS BIGINT) AS finished_ppm,
       CAST(FLOOR(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
            AS DECIMAL(20,6)) * 1000000 / COUNT(*)) AS BIGINT) AS open_ppm,
       CAST(FLOOR(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
            AS DECIMAL(20,6)) * 1000000 / COUNT(*)) AS BIGINT) AS partial_ppm
FROM orders
GROUP BY 1
ORDER BY order_year
""",
    doc="Per-year order-status mix as integer ppm rates (finished/open/"
    "partial) — the order_cancellation_rate and delivery_status_rate "
    "KPI shapes: conditional counts folded into one partial-aggregated "
    "reduce per year.",
)
def q129_status_rate_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderdate", "o_orderstatus")
    n = F.count(F.lit(1))
    def rate(status: str, name: str):
        return ppm_floor(
            F.sum(F.when(F.col("o_orderstatus") == status, 1).otherwise(0)), n
        ).alias(name)
    return (
        o.groupBy(F.year(F.col("o_orderdate").cast("date")).cast("int").alias("order_year"))
        .agg(
            n.alias("n_orders"),
            rate("F", "finished_ppm"),
            rate("O", "open_ppm"),
            rate("P", "partial_ppm"),
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# q134 — PageRank over the event-transition graph. The iterative
# graph-centrality read on top of q104's Markov matrix: which event
# type the session flow concentrates on. Bounded-iterative-state
# pattern shared with q50/q79/q138: the corpus is folded ONCE to an
# edge list, every iteration then runs on graph-sized frames only.
# ---------------------------------------------------------------------------
def event_pagerank(events: DataFrame, n_iter: int = 3) -> DataFrame:
    """Weighted PageRank (damping 0.85, ``n_iter`` synchronous
    iterations) over the directed event-type transition graph, in
    exact integer ppm arithmetic so both engines replay it bit-for-bit:

    - ``score0(v) = 1_000_000 div n`` (n = node count),
    - ``contrib(u→v) = (score(u) · w(u,v)) div out_weight(u)``,
    - ``score'(v) = 150_000 div n + (850 · Σ contrib) div 1000``.

    All terms are non-negative BIGINTs, so Spark's ``div`` and
    DuckDB's ``//`` agree exactly (no float damping, no IEEE drift).
    Dangling-node mass is dropped, not redistributed — the simplest
    deterministic spec, documented here as the contract.

    Scale shape: ONE lag-window shuffle on user_id builds the edge
    list (the q104 derivation), folded to the |types|² weighted edge
    frame and localCheckpoint'd. Each iteration joins the node-sized
    score vector (broadcast) to the edges and partial-aggregates the
    contributions — per-iteration cost is edge-frame-sized, never
    corpus-sized, and the iteration count is a fixed small constant.
    At 100 TB the same plan holds with the score vector broadcast and
    the edge list partitioned by src.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    edges = (
        t.groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .localCheckpoint()
    )
    nodes = (
        events.select(F.col("event_type").alias("node")).distinct().localCheckpoint()
    )
    outd = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    scores = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr("CAST(1000000 div n AS BIGINT)").alias("score"))
    )
    for _ in range(n_iter):
        contrib = (
            edges.join(F.broadcast(scores), edges["src"] == scores["node"])
            .join(F.broadcast(outd), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("CAST((score * w) div outw AS BIGINT)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("sumc"))
        )
        scores = (
            nodes.join(F.broadcast(contrib), "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.expr(
                    "CAST(150000 div n + (850 * coalesce(sumc, 0)) div 1000 AS BIGINT)"
                ).alias("score"),
            )
            .localCheckpoint()
        )
    return scores.select(
        F.col("node").alias("event_type"), F.col("score").alias("pagerank_ppm")
    )


def _pagerank_oracle(n_iter: int = 3) -> str:
    prev = "s0"
    its = []
    for k in range(1, n_iter + 1):
        its.append(
            f"""c{k} AS (
  SELECT e.dst AS node, SUM((s.score * e.w) // o.outw) AS sumc
  FROM e JOIN {prev} s ON e.src = s.node JOIN outd o ON e.src = o.src
  GROUP BY e.dst
),
s{k} AS (
  SELECT n0.node,
         CAST(150000 // nn.n + (850 * COALESCE(c.sumc, 0)) // 1000 AS BIGINT) AS score
  FROM nodes n0 CROSS JOIN nn LEFT JOIN c{k} c ON n0.node = c.node
)"""
        )
        prev = f"s{k}"
    its_sql = ",\n".join(its)
    return f"""
WITH t AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
e AS (
  SELECT prev_type AS src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
outd AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
s0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS score FROM nodes CROSS JOIN nn),
{its_sql}
SELECT node AS event_type, score AS pagerank_ppm FROM {prev} ORDER BY event_type
"""


@register(
    "q134_event_pagerank",
    oracle=_pagerank_oracle(3),
    doc="Weighted PageRank (3 synchronous iterations, damping 0.85) "
    "over the event-type transition digraph in exact integer ppm — "
    "corpus folded once to the edge list, per-iteration cost is "
    "graph-sized (broadcast score vector), dangling mass dropped by "
    "documented contract.",
)
def q134_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return event_pagerank(e, n_iter=3).orderBy("event_type")
