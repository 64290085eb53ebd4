"""KPI layer tests over the pipeline-built consumption schema."""

from __future__ import annotations

import pytest

from real_time_data_pipeline_for_restaurant_analytics_spark.plans.kpis import (
    ALL_KPIS,
    ConsumptionViews,
)


@pytest.fixture(scope="module")
def cv(spark, two_day_wh):
    views = ConsumptionViews(spark, two_day_wh)
    views.register_all()
    return views


def test_all_kpis_run(cv):
    for name, fn in ALL_KPIS.items():
        df = fn(cv)
        assert df.columns, name
        df.collect()


def test_kpi_summary_values(cv):
    row = ALL_KPIS["kpi_summary"](cv).collect()[0]
    # fixtures: order 7001 completed (450.00), 7002 cancelled
    assert str(row.total_revenue) == "450.00"
    assert row.total_orders == 1
    assert str(row.avg_order_value) == "450.0000"
    assert row.total_customers == 2
    assert row.total_restaurants == 2
    assert row.total_delivery_agents == 1


def test_cancellation_rate(cv):
    row = ALL_KPIS["order_cancellation_rate"](cv).collect()[0]
    assert row.n_orders == 2 and row.n_cancelled == 1
    assert row.cancellation_ppm == 500000


def test_top_city_and_state_revenue(cv):
    city = ALL_KPIS["top_performing_city"](cv).collect()[0]
    assert city.city == "Mumbai" and str(city.revenue) == "450.00"
    states = {r.state: str(r.revenue) for r in ALL_KPIS["revenue_per_state"](cv).collect()}
    assert states == {"Maharashtra": "450.00"}


def test_delivery_status_rate(cv):
    rows = {r.delivery_status: r.share_ppm for r in ALL_KPIS["delivery_status_rate"](cv).collect()}
    assert rows == {"Delivered": 500000, "Cancelled": 500000}


def test_masked_views(cv, spark):
    masked = spark.sql("SELECT name, email, mobile FROM customer_current_masked").collect()
    assert all(r.name == "** PII **" and r.email == "** EMAIL **" for r in masked)
    # unmasked view still intact
    raw = spark.sql("SELECT email FROM customer_current WHERE customer_id = 'C001'").collect()
    assert raw[0].email == "asha.rao@example.com"


def test_sql_star_join_over_views(cv, spark):
    # the final_proc.sql:71-76 popularity query as plain spark.sql
    rows = spark.sql(
        """
        SELECT m.item_name, COUNT(*) AS order_count
        FROM order_item_current i JOIN menu_current m ON i.menuitem_id_fk = m.menu_id
        GROUP BY m.item_name ORDER BY order_count DESC, item_name
        """
    ).collect()
    assert rows and rows[0].order_count >= 1
