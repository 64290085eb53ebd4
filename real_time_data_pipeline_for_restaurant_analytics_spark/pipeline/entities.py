"""Per-entity specifications: source schema, clean transform, merge
keys (SURVEY §1.3 + §2.2).

Each ``EntitySpec`` carries the only entity-specific knowledge in the
engine: the source column list (positional, like the reference's
$1..$n COPY binding), the stage→clean typed transform, and the
business key. The tracked SCD attributes are the clean output's
columns minus the key and the audit columns (runner.py derives them
from the typed batch's schema). The generic three-layer machinery
lives in runner.py; the merge semantics in operators/merge.py.

Quirk resolutions (SURVEY §7 hard-part c): v3 semantics everywhere —
customer email/mobile straight ($3=email, $4=mobile,
`customer_proc.sql:106-109`; v2's swap at `04:42-43` is a bug),
location CSV read as (LocationID, State, City, ...).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.casts import (
    try_to_boolean,
    try_to_date,
    try_to_decimal,
    try_to_timestamp,
)
from ..functions.enrich import case_map, device_enrichment, flag_in, tier_bucket
from ..functions.keys import smart_date_key, smart_time_key
from ..sources.readers import AUDIT_COLS
from . import geography as geo

# Timestamp formats the reference parses (FIXTURES.md): plain and ISO-T.
_FMT_PLAIN = "yyyy-MM-dd HH:mm:ss"
_FMT_ISOT = "yyyy-MM-dd'T'HH:mm:ss"
_FMT_ISOT_US = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def parse_ts(col: str) -> Column:
    """TO_TIMESTAMP_TZ with the reference's formats, null on failure
    (P1/P2): tries plain, ISO-T, ISO-T-with-micros."""
    return F.coalesce(
        try_to_timestamp(col, _FMT_PLAIN),
        try_to_timestamp(col, _FMT_ISOT),
        try_to_timestamp(col, _FMT_ISOT_US),
    )


def _keep_audit(df: DataFrame) -> list[Column]:
    return [F.col(c) for c in AUDIT_COLS if c in df.columns]


@dataclass(frozen=True)
class EntitySpec:
    name: str
    source_columns: list[str]  # positional CSV/JSON binding ($1..$n)
    clean: Callable[[DataFrame], DataFrame]
    key: list[str]  # business key (clean-layer names)
    ext: str = "csv"
    dedup_source: bool = False  # C6: DISTINCT before merge
    created_col: str | None = "created_ts"
    modified_col: str | None = "modified_ts"
    scd1_only: bool = False  # login_audit-style fact (C5)
    file_stem: str | None = None  # source file name ≠ entity name

    @property
    def source_file_stem(self) -> str:
        return self.file_stem or self.name


def _clean_location(df: DataFrame) -> DataFrame:
    """`02:84-180` / `location_proc.sql:118-205`: typed cast + the
    geography enrichment ladder + Delhi→New Delhi normalization (P3-P7)."""
    state = F.when(F.col("state") == "Delhi", F.lit("New Delhi")).otherwise(F.col("state"))
    capital_pairs = [f"(state = '{s}' AND city = '{c}')" for s, c in geo.CAPITALS]
    capital_flag = F.expr(
        "CASE WHEN " + " OR ".join(capital_pairs) + " THEN TRUE ELSE FALSE END"
    )
    return df.filter(F.col("locationid").isNotNull()).select(
        F.col("locationid").try_cast("long").alias("location_id"),
        F.col("city").alias("city"),
        state.alias("state"),
        case_map("state", geo.STATE_CODES, F.lit(None)).alias("state_code"),
        F.when(F.col("state").isin(geo.UT_STATES), "Y")
        .when(F.col("city").isin(geo.UT_CITIES), "Y")
        .otherwise("N")
        .alias("is_union_territory"),
        capital_flag.alias("capital_city_flag"),
        tier_bucket("city", {"Tier-1": geo.TIER1_CITIES, "Tier-2": geo.TIER2_CITIES}, "Tier-3").alias(
            "city_tier"
        ),
        F.col("zipcode").alias("zip_code"),
        F.col("activeflag").alias("active_flag"),
        parse_ts("createddate").alias("created_ts"),
        parse_ts("modifieddate").alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_restaurant(df: DataFrame) -> DataFrame:
    """`03:136-163`: typed casts; coupons (variant) dropped in clean."""
    return df.filter(F.col("restaurantid").isNotNull()).select(
        F.col("restaurantid").try_cast("long").alias("restaurant_id"),
        F.trim("name").alias("name"),
        F.trim("cuisinetype").alias("cuisine_type"),
        try_to_decimal("pricing_for_2", 10, 2).alias("pricing_for_two"),
        F.col("restaurant_phone").alias("restaurant_phone"),
        F.col("operatinghours").alias("operating_hours"),
        F.col("locationid").try_cast("long").alias("location_id_fk"),
        F.col("activeflag").alias("active_flag"),
        F.col("openstatus").alias("open_status"),
        F.col("locality").alias("locality"),
        F.col("restaurant_address").alias("restaurant_address"),
        try_to_decimal("ratings", 4, 3).alias("ratings"),
        try_to_decimal("latitude", 9, 6).alias("latitude"),
        try_to_decimal("longitude", 9, 6).alias("longitude"),
        parse_ts("createddate").alias("created_ts"),
        parse_ts("modifieddate").alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_customer(df: DataFrame) -> DataFrame:
    """v3 `customer_proc.sql:139-171`: straight email/mobile binding,
    date parsing for dob/anniversary, preferences kept as JSON text."""
    return df.filter(F.col("customerid").isNotNull()).select(
        F.col("customerid").alias("customer_id"),
        F.trim("name").alias("name"),
        F.col("email").alias("email"),
        F.col("mobile").alias("mobile"),
        F.col("loginbyusing").alias("login_by_using"),
        F.col("gender").alias("gender"),
        # TRY semantics, not TO_DATE (`customer_proc.sql:137-138`):
        # under Spark's ANSI default a malformed date would otherwise
        # ABORT the load the reference's TRY_TO_DATE nulls through
        try_to_date("dob").alias("dob"),
        try_to_date("anniversary").alias("anniversary"),
        F.col("rating").try_cast("double").alias("rating"),
        F.col("preferences").alias("preferences"),
        parse_ts("createddate").alias("created_ts"),
        parse_ts("modifieddate").alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_customer_address(df: DataFrame) -> DataFrame:
    """`05:70-120` / `customer_address_proc.sql`: pincode NUMBER in
    clean (STRING again in the dim — type drift pinned in tests)."""
    return df.filter(F.col("addressid").isNotNull()).select(
        F.col("addressid").try_cast("int").alias("address_id"),
        F.col("customerid").try_cast("int").alias("customer_id_fk"),
        F.col("flatno").alias("flat_no"),
        F.col("floor").alias("floor"),
        F.col("building").alias("building"),
        F.col("landmark").alias("landmark"),
        F.col("locality").alias("locality"),
        F.col("city").alias("city"),
        F.col("state").alias("state"),
        F.col("pincode").try_cast("long").alias("pincode"),
        F.col("coordinates").alias("coordinates"),
        F.col("primaryflag").alias("primary_flag"),
        F.col("addresstype").alias("address_type"),
        parse_ts("createddate").alias("created_ts"),
        parse_ts("modifieddate").alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_menu(df: DataFrame) -> DataFrame:
    """`06:108-131`: TRIM + boolean parse + decimal casts (P8/P9)."""
    return df.filter(F.col("menuid").isNotNull()).select(
        F.col("menuid").try_cast("int").alias("menu_id"),
        F.col("restaurantid").try_cast("int").alias("restaurant_id_fk"),
        F.trim("itemname").alias("item_name"),
        F.trim("description").alias("description"),
        try_to_decimal("price", 10, 2).alias("price"),
        F.trim("category").alias("category"),
        try_to_boolean("availability").alias("availability"),
        F.trim("itemtype").alias("item_type"),
        try_to_decimal("rating", 2, 1).alias("rating"),
        try_to_timestamp("createddate", _FMT_PLAIN).alias("created_ts"),
        try_to_timestamp("modifieddate", _FMT_PLAIN).alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_delivery_agent(df: DataFrame) -> DataFrame:
    """v3 JSON source `delivery_agent_proc.sql:160-184`."""
    return df.filter(F.col("deliveryagentid").isNotNull()).select(
        F.col("deliveryagentid").try_cast("long").alias("delivery_agent_id"),
        F.trim("full_name").alias("full_name"),
        F.col("email").alias("email"),
        F.col("mobile_no").alias("mobile_no"),
        F.col("vehicletype").alias("vehicle_type"),
        F.col("locationid").try_cast("long").alias("location_id_fk"),
        F.col("status").alias("status"),
        F.col("gender").alias("gender"),
        try_to_decimal("rating", 4, 2).alias("rating"),
        parse_ts("createddate").alias("created_ts"),
        parse_ts("modifieddate").alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_delivery(df: DataFrame) -> DataFrame:
    """`08:60-85`: estimated/delivered time stay STRING in clean."""
    return df.filter(F.col("deliveryid").isNotNull()).select(
        F.col("deliveryid").try_cast("int").alias("delivery_id"),
        F.col("orderid").try_cast("long").alias("order_id_fk"),
        F.col("deliveryagentid").try_cast("long").alias("delivery_agent_id_fk"),
        F.col("deliverystatus").alias("delivery_status"),
        F.col("estimatedtime").alias("estimated_time"),
        F.col("deliveredtime").alias("delivered_time"),
        F.col("addressid").try_cast("long").alias("address_id_fk"),
        parse_ts("deliverydate").alias("delivery_date"),
        parse_ts("createddate").alias("created_ts"),
        parse_ts("modifieddate").alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_orders(df: DataFrame) -> DataFrame:
    """`09:100-160` + the post-load coupon fill (P16, `09:166-168`)
    folded into the transform as coalesce."""
    return df.filter(F.col("orderid").isNotNull()).select(
        F.col("orderid").try_cast("long").alias("order_id"),
        F.col("customerid").try_cast("long").alias("customer_id_fk"),
        F.col("restaurantid").try_cast("long").alias("restaurant_id_fk"),
        parse_ts("orderdate").alias("order_date"),
        try_to_decimal("totalamount", 10, 2).alias("total_amount"),
        try_to_decimal("discountamount", 10, 2).alias("discount_amount"),
        try_to_decimal("deliverycharges", 10, 2).alias("delivery_charges"),
        try_to_decimal("finalamount", 10, 2).alias("final_amount"),
        F.col("status").alias("status"),
        F.col("paymentmethod").alias("payment_method"),
        try_to_boolean("isfirstorder").alias("is_first_order"),
        F.coalesce(F.col("couponcode"), F.lit("Not Applied")).alias("coupon_code"),
        parse_ts("createddate").alias("created_ts"),
        parse_ts("modifieddate").alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_order_item(df: DataFrame) -> DataFrame:
    """`10:60-85`: all measures NUMBER(10,2)."""
    return df.filter(F.col("orderitemid").isNotNull()).select(
        F.col("orderitemid").try_cast("long").alias("order_item_id"),
        F.col("orderid").try_cast("long").alias("order_id_fk"),
        F.col("menuitemid").try_cast("long").alias("menuitem_id_fk"),
        try_to_decimal("quantity", 10, 2).alias("quantity"),
        try_to_decimal("price", 10, 2).alias("price"),
        try_to_decimal("subtotal", 10, 2).alias("subtotal"),
        try_to_decimal("ratings", 10, 2).alias("ratings"),
        try_to_timestamp("createddate", _FMT_PLAIN).alias("created_ts"),
        try_to_timestamp("modifieddate", _FMT_PLAIN).alias("modified_ts"),
        *_keep_audit(df),
    )


def _clean_login_audit(df: DataFrame) -> DataFrame:
    """`login-audit_proc.sql:122-165`: device + time-dimension
    enrichment (P13/P14)."""
    cat, os_, mobile = device_enrichment("deviceinterface", "mobiledevicename", "webinterface")
    last_login = try_to_timestamp("lastlogin", _FMT_PLAIN)
    return df.filter(F.col("loginid").isNotNull()).select(
        F.col("loginid").try_cast("long").alias("login_id"),
        F.col("customerid").try_cast("long").alias("customer_id"),
        F.col("logintype").alias("login_type"),
        F.col("deviceinterface").alias("device_interface"),
        F.col("mobiledevicename").alias("mobile_device_name"),
        F.col("webinterface").alias("web_interface"),
        last_login.alias("last_login"),
        cat.alias("device_category"),
        mobile.alias("is_mobile"),
        os_.alias("device_os"),
        F.hour(last_login).alias("login_hour"),
        F.date_format(last_login, "EEE").alias("login_day"),
        F.date_format(last_login, "MMM").alias("login_month"),
        F.year(last_login).alias("login_year"),
        smart_date_key(last_login).alias("login_date_key"),
        smart_time_key(last_login).alias("login_time_key"),
        *_keep_audit(df),
    )


ENTITIES: dict[str, EntitySpec] = {
    "location": EntitySpec(
        name="location",
        source_columns=["locationid", "state", "city", "zipcode", "activeflag",
                        "createddate", "modifieddate"],
        clean=_clean_location,
        key=["location_id"],
    ),
    "restaurant": EntitySpec(
        name="restaurant",
        source_columns=["restaurantid", "name", "cuisinetype", "pricing_for_2",
                        "restaurant_phone", "operatinghours", "locationid", "activeflag",
                        "openstatus", "locality", "restaurant_address", "ratings",
                        "coupons", "latitude", "longitude", "createddate", "modifieddate"],
        clean=_clean_restaurant,
        key=["restaurant_id"],
    ),
    "customer": EntitySpec(
        name="customer",
        source_columns=["customerid", "name", "email", "mobile", "loginbyusing",
                        "gender", "dob", "anniversary", "rating", "preferences",
                        "createddate", "modifieddate"],
        clean=_clean_customer,
        key=["customer_id"],
    ),
    "customer_address": EntitySpec(
        name="customer_address",
        source_columns=["addressid", "customerid", "flatno", "floor", "building",
                        "landmark", "locality", "city", "state", "pincode",
                        "coordinates", "primaryflag", "addresstype", "createddate",
                        "modifieddate"],
        clean=_clean_customer_address,
        key=["address_id"],
    ),
    "menu": EntitySpec(
        name="menu",
        file_stem="menu_items",  # `final_proc.sql:21`
        source_columns=["menuid", "restaurantid", "itemname", "description", "price",
                        "category", "availability", "itemtype", "rating",
                        "createddate", "modifieddate"],
        clean=_clean_menu,
        key=["menu_id"],
    ),
    "delivery_agent": EntitySpec(
        name="delivery_agent",
        source_columns=["deliveryagentid", "full_name", "email", "mobile_no",
                        "vehicletype", "locationid", "status", "gender", "rating",
                        "createddate", "modifieddate"],
        clean=_clean_delivery_agent,
        key=["delivery_agent_id"],
        ext="json",
        dedup_source=True,  # C6: JSON source repeats rows
    ),
    "delivery": EntitySpec(
        name="delivery",
        source_columns=["deliveryid", "orderid", "deliveryagentid", "deliverystatus",
                        "estimatedtime", "deliveredtime", "addressid", "deliverydate",
                        "createddate", "modifieddate"],
        clean=_clean_delivery,
        key=["delivery_id", "order_id_fk", "delivery_agent_id_fk"],  # J3 composite
    ),
    "orders": EntitySpec(
        name="orders",
        source_columns=["orderid", "customerid", "restaurantid", "orderdate",
                        "totalamount", "discountamount", "deliverycharges",
                        "finalamount", "status", "paymentmethod", "isfirstorder",
                        "couponcode", "createddate", "modifieddate"],
        clean=_clean_orders,
        key=["order_id"],
    ),
    "order_item": EntitySpec(
        name="order_item",
        file_stem="order_items",  # `final_proc.sql:23`
        source_columns=["orderitemid", "orderid", "menuitemid", "quantity", "price",
                        "subtotal", "ratings", "createddate", "modifieddate"],
        clean=_clean_order_item,
        key=["order_item_id", "order_id_fk", "menuitem_id_fk"],  # J3 composite
    ),
    "login_audit": EntitySpec(
        name="login_audit",
        source_columns=["loginid", "customerid", "logintype", "deviceinterface",
                        "mobiledevicename", "webinterface", "lastlogin"],
        clean=_clean_login_audit,
        key=["login_id"],
        created_col=None,
        modified_col=None,
        scd1_only=True,  # C5: SCD1-style fact merge on login_id
    ),
}

# Fixed fan-out order (`final_proc.sql:30-39`).
RUN_ORDER = [
    "location",
    "restaurant",
    "menu",
    "orders",
    "order_item",
    "delivery",
    "delivery_agent",
    "customer",
    "customer_address",
    "login_audit",
]
