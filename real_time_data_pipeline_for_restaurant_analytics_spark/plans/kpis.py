"""The 26-KPI analytical surface (README.md:108-135, SURVEY A5).

Each KPI is a DataFrame builder over the consumption-layer tables
(current dim versions + facts) produced by pipeline/runner.py. A
``ConsumptionViews`` helper registers the star schema (current-only
views + PII-masked variants, P17) so every KPI is also runnable as
``spark.sql``.

Scale notes: every KPI is a broadcast-dim star join + partial
aggregation; no KPI shuffles more than once on the fact. Over snapshot
versions that read as one partition (small enough that AQE would
coalesce their shuffles to one partition anyway, see
sources/snapshot.py) no KPI shuffles at all. Ratio KPIs return exact
decimal/ppm values (same conventions as plans/analytics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.casts import ppm_floor
from ..functions.enrich import DEFAULT_MASKS, mask_columns
from ..pipeline.runner import Warehouse


def _ppm(num, den):
    return ppm_floor(num, den)


def _current_slice(df: DataFrame) -> DataFrame:
    """The is_current rows of an SCD2 dim; an SCD1 fact as it is."""
    return df.filter(F.col("is_current")) if "is_current" in df.columns else df


class ConsumptionViews:
    """Registers consumption views: <entity>_dim (all versions),
    <entity>_current (is_current slice), masked variants for PII
    columns (`01:42-60` masking policies as a view layer)."""

    MASKED = {
        "restaurant_current": {"restaurant_phone": DEFAULT_MASKS["phone"]},
        "customer_current": {
            "name": DEFAULT_MASKS["pii"],
            "email": DEFAULT_MASKS["email"],
            "mobile": DEFAULT_MASKS["phone"],
            "dob": DEFAULT_MASKS["pii"],
        },
        "delivery_agent_current": {
            "email": DEFAULT_MASKS["email"],
            "mobile_no": DEFAULT_MASKS["phone"],
        },
    }

    def __init__(self, spark: SparkSession, wh: Warehouse):
        self.spark = spark
        self.wh = wh

    def table(self, entity: str) -> DataFrame:
        df = self.wh.dim(entity).read(self.spark)
        if df is None:
            raise ValueError(f"consumption table for {entity} not built")
        return df

    def current(self, entity: str) -> DataFrame:
        return _current_slice(self.table(entity))

    def register_all(self) -> None:
        from ..pipeline.entities import ENTITIES

        for name in ENTITIES:
            df = self.table(name)
            suffix = "_fact" if ENTITIES[name].scd1_only else "_dim"
            df.createOrReplaceTempView(f"{name}{suffix}")
            cur = _current_slice(df)
            view = f"{name}_current"
            cur.createOrReplaceTempView(view)
            if view in self.MASKED:
                masked = {
                    c: m for c, m in self.MASKED[view].items() if c in cur.columns
                }
                mask_columns(cur, masked).createOrReplaceTempView(f"{view}_masked")


# ---------------------------------------------------------------------------
# KPI builders. cv = ConsumptionViews.
# ---------------------------------------------------------------------------


def kpi_summary(cv: ConsumptionViews) -> DataFrame:
    """KPIs 1-4, 6-9: the scalar headline card."""
    orders = cv.current("orders")
    completed = orders.filter(F.col("status") != "Cancelled")
    rev = completed.agg(
        F.sum("final_amount").cast("decimal(22,2)").alias("total_revenue"),
        F.count(F.lit(1)).alias("total_orders"),
    )
    aov = rev.select(
        "total_revenue",
        "total_orders",
        (F.col("total_revenue").cast("decimal(30,8)") / F.col("total_orders"))
        .cast("decimal(18,4)")
        .alias("avg_order_value"),
    )
    counts = (
        cv.current("customer").agg(F.count(F.lit(1)).alias("total_customers"))
        .crossJoin(
            cv.current("location").select(F.countDistinct("city").alias("total_cities"))
        )
        .crossJoin(
            cv.current("delivery_agent").agg(F.count(F.lit(1)).alias("total_delivery_agents"))
        )
        .crossJoin(
            cv.current("restaurant").agg(
                F.count(F.lit(1)).alias("total_restaurants"),
                F.avg(F.col("ratings").cast("double")).alias("avg_restaurant_rating"),
            )
        )
    )
    return aov.crossJoin(counts)


def top_performing_city(cv: ConsumptionViews) -> DataFrame:
    """KPI 5: city by completed-order revenue (orders⋈restaurant⋈location)."""
    orders = cv.current("orders").filter(F.col("status") != "Cancelled")
    rest = cv.current("restaurant").select("restaurant_id", "location_id_fk")
    loc = cv.current("location").select("location_id", "city")
    return (
        orders.join(broadcast(rest), orders.restaurant_id_fk == rest.restaurant_id)
        .join(broadcast(loc), rest.location_id_fk == loc.location_id)
        .groupBy("city")
        .agg(F.sum("final_amount").cast("decimal(22,2)").alias("revenue"))
        .orderBy(F.desc("revenue"), "city")
        .limit(1)
    )


def payment_method_distribution(cv: ConsumptionViews) -> DataFrame:
    """KPI 14. The denominator is a window sum over the grouped counts
    (tiny post-agg frame), not a separate `.count()` action — one job,
    one shuffle on the fact."""
    orders = cv.current("orders")
    return (
        orders.groupBy("payment_method")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "payment_method",
            "n_orders",
            _ppm(F.col("n_orders"), F.sum("n_orders").over(Window.partitionBy())).alias("share_ppm"),
        )
        .orderBy("payment_method")
    )


def most_valuable_customer(cv: ConsumptionViews) -> DataFrame:
    """KPI 15: top-1 by lifetime completed spend."""
    orders = cv.current("orders").filter(F.col("status") != "Cancelled")
    return (
        orders.groupBy("customer_id_fk")
        .agg(F.sum("final_amount").cast("decimal(22,2)").alias("lifetime_value"))
        .orderBy(F.desc("lifetime_value"), "customer_id_fk")
        .limit(1)
    )


def revenue_growth_yearly(cv: ConsumptionViews) -> DataFrame:
    """KPI 16: lag-window yearly growth (ppm)."""
    orders = cv.current("orders").filter(F.col("status") != "Cancelled")
    yearly = orders.groupBy(F.year("order_date").alias("order_year")).agg(
        F.sum("final_amount").cast("decimal(22,2)").alias("revenue")
    )
    prev = F.lag("revenue").over(Window.orderBy("order_year"))
    return yearly.select(
        "order_year",
        "revenue",
        F.floor((F.col("revenue") - prev).cast("decimal(30,8)") * 1000000 / prev)
        .cast("bigint")
        .alias("growth_ppm"),
    ).orderBy("order_year")


def order_cancellation_rate(cv: ConsumptionViews) -> DataFrame:
    """KPI 17 (and the KPI-10 returned-rate shape on delivery status)."""
    orders = cv.current("orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("status") == "Cancelled", 1)).alias("n_cancelled"),
    ).select(
        "n_orders",
        "n_cancelled",
        _ppm(F.col("n_cancelled"), F.col("n_orders")).alias("cancellation_ppm"),
    )


def revenue_per_restaurant(cv: ConsumptionViews) -> DataFrame:
    """KPI 18."""
    orders = cv.current("orders").filter(F.col("status") != "Cancelled")
    rest = cv.current("restaurant").select("restaurant_id", "name")
    return (
        orders.join(broadcast(rest), orders.restaurant_id_fk == rest.restaurant_id)
        .groupBy("restaurant_id", "name")
        .agg(
            F.sum("final_amount").cast("decimal(22,2)").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "restaurant_id")
    )


def revenue_per_state(cv: ConsumptionViews) -> DataFrame:
    """KPI 19 (the revenue-per-state star rollup)."""
    orders = cv.current("orders").filter(F.col("status") != "Cancelled")
    rest = cv.current("restaurant").select("restaurant_id", "location_id_fk")
    loc = cv.current("location").select("location_id", "state", "state_code")
    return (
        orders.join(broadcast(rest), orders.restaurant_id_fk == rest.restaurant_id)
        .join(broadcast(loc), rest.location_id_fk == loc.location_id)
        .groupBy("state", "state_code")
        .agg(F.sum("final_amount").cast("decimal(22,2)").alias("revenue"))
        .orderBy(F.desc("revenue"), "state")
    )


def revenue_per_order_item(cv: ConsumptionViews) -> DataFrame:
    """KPI 20: item-level revenue joined to menu names — the
    `final_proc.sql:71-76` popularity query, revenue-weighted."""
    oi = cv.current("order_item")
    menu = cv.current("menu").select("menu_id", "item_name")
    return (
        oi.join(broadcast(menu), oi.menuitem_id_fk == menu.menu_id)
        .groupBy("item_name")
        .agg(
            F.sum("subtotal").cast("decimal(22,2)").alias("revenue"),
            F.sum(F.col("quantity").cast("decimal(12,2)")).cast("decimal(22,2)").alias("units"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "item_name")
    )


def delivery_status_rate(cv: ConsumptionViews) -> DataFrame:
    """KPIs 11 + 26: status distribution incl. returned count; the
    total comes from a window sum over the grouped counts (no separate
    count() action)."""
    d = cv.current("delivery")
    return (
        d.groupBy("delivery_status")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "delivery_status",
            "n",
            _ppm(F.col("n"), F.sum("n").over(Window.partitionBy())).alias("share_ppm"),
        )
        .orderBy("delivery_status")
    )


def avg_successful_deliveries_per_agent(cv: ConsumptionViews) -> DataFrame:
    """KPI 21."""
    d = cv.current("delivery").filter(F.col("delivery_status") == "Delivered")
    per_agent = d.groupBy("delivery_agent_id_fk").agg(F.count(F.lit(1)).alias("n_delivered"))
    return per_agent.agg(
        F.count(F.lit(1)).alias("n_agents"),
        F.sum("n_delivered").alias("n_delivered_total"),
        F.avg("n_delivered").alias("avg_per_agent"),
    )


def avg_delivery_time(cv: ConsumptionViews) -> DataFrame:
    """KPIs 22/23: delivered_ts − order_ts in seconds (delivery⋈orders).

    The reference keeps delivered/estimated time as free text
    (`08:70-71`); where parseable as 'N mins' we use it, else the
    delivery_date−order_date gap."""
    d = cv.current("delivery").filter(F.col("delivery_status") == "Delivered")
    o = cv.current("orders").select("order_id", "order_date")
    mins = F.regexp_extract(F.col("delivered_time"), r"(\d+)", 1).try_cast("long")
    gap = (F.unix_timestamp("delivery_date") - F.unix_timestamp("order_date")) / 60
    return (
        d.join(o, d.order_id_fk == o.order_id)
        .select(F.coalesce(mins, gap.cast("long")).alias("delivery_minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_deliveries"),
            F.avg("delivery_minutes").alias("avg_delivery_minutes"),
        )
    )


def avg_delivery_partner_rating(cv: ConsumptionViews) -> DataFrame:
    """KPI 24."""
    return cv.current("delivery_agent").agg(
        F.count(F.lit(1)).alias("n_agents"),
        F.avg(F.col("rating").cast("double")).alias("avg_rating"),
    )


def deliveries_per_hour(cv: ConsumptionViews) -> DataFrame:
    """KPI 25: the hourly histogram (streaming variant in
    streaming/windows.py uses the same shape with watermarks)."""
    d = cv.current("delivery")
    return (
        d.groupBy(F.date_format("delivery_date", "yyyyMMddHH").cast("bigint").alias("hour_key"))
        .agg(F.count(F.lit(1)).alias("n_deliveries"))
        .orderBy("hour_key")
    )


def churn_and_retention(cv: ConsumptionViews, months: int = 3) -> DataFrame:
    """KPIs 12/13: customers with no completed order in the trailing
    `months` window relative to the latest order date = churned."""
    orders = cv.current("orders").filter(F.col("status") != "Cancelled")
    # 1-row broadcast-cross for the cutoff scalar (house pattern, see
    # dq.mad_anomalies): keeps the whole KPI one job instead of an
    # extra driver-sync collect for the max
    cutoff_row = orders.agg(
        (F.max("order_date") - F.expr(f"INTERVAL {months} MONTHS")).alias("_cutoff")
    )
    per_cust = orders.groupBy("customer_id_fk").agg(F.max("order_date").alias("last_order"))
    flags = per_cust.crossJoin(F.broadcast(cutoff_row)).select(
        F.count(F.lit(1)).alias("n_customers"),
        F.count(F.when(F.col("last_order") < F.col("_cutoff"), 1)).alias("n_churned"),
    )
    return flags.select(
        "n_customers",
        "n_churned",
        _ppm(F.col("n_churned"), F.col("n_customers")).alias("churn_ppm"),
        _ppm(F.col("n_customers") - F.col("n_churned"), F.col("n_customers")).alias(
            "retention_ppm"
        ),
    )


ALL_KPIS = {
    "kpi_summary": kpi_summary,
    "top_performing_city": top_performing_city,
    "payment_method_distribution": payment_method_distribution,
    "most_valuable_customer": most_valuable_customer,
    "revenue_growth_yearly": revenue_growth_yearly,
    "order_cancellation_rate": order_cancellation_rate,
    "revenue_per_restaurant": revenue_per_restaurant,
    "revenue_per_state": revenue_per_state,
    "revenue_per_order_item": revenue_per_order_item,
    "delivery_status_rate": delivery_status_rate,
    "avg_successful_deliveries_per_agent": avg_successful_deliveries_per_agent,
    "avg_delivery_time": avg_delivery_time,
    "avg_delivery_partner_rating": avg_delivery_partner_rating,
    "deliveries_per_hour": deliveries_per_hour,
    "churn_and_retention": churn_and_retention,
}
