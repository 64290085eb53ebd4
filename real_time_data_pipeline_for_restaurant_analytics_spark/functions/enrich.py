"""Enrichment operators (SURVEY §2.2 P3-P7, P13-P17).

The reference encodes geography/device enrichment as big CASE ladders
(`02 Location Entity.sql:94-166`, `login-audit_proc.sql:135-160`) and
PII masking as column policies (`01 Create DB+Schema.sql:42-60`).

Spark-first choices:
- small literal mappings → a ``when()`` chain built from the mapping
  (``case_map``): the mapping is data, not code, and the chain stays
  inside whole-stage codegen.
- masking → view-layer rewrite (OSS Spark has no column policies):
  ``mask_columns`` rewrites tagged columns to literal masks.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def case_map(
    col: Column | str,
    mapping: Mapping[str, str],
    default: Column | str | None = None,
) -> Column:
    """CASE WHEN col='k1' THEN 'v1' ... ELSE default — as a when()
    chain (P3, `02:94-122`). Stays in whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for k, v in mapping.items():
        expr = F.when(c == k, F.lit(v)) if expr is None else expr.when(c == k, F.lit(v))
    if expr is None:
        raise ValueError("empty mapping")
    if default is None:
        return expr
    return expr.otherwise(F.col(default) if isinstance(default, str) else F.lit(default))


def flag_in(col: Column | str, values: Iterable[str], yes: str = "Y", no: str = "N") -> Column:
    """Membership flag (P4 is_union_territory, `02:123-128`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(list(values)), F.lit(yes)).otherwise(F.lit(no))


def tier_bucket(
    col: Column | str,
    tiers: Mapping[str, Iterable[str]],
    default: str,
) -> Column:
    """Bucketing CASE (P6 city_tier, `02:161-166`): first matching
    tier wins, else default."""
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for tier_name, members in tiers.items():
        cond = c.isin(list(members))
        expr = F.when(cond, F.lit(tier_name)) if expr is None else expr.when(cond, F.lit(tier_name))
    assert expr is not None
    return expr.otherwise(F.lit(default))


def with_datetime_parts(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    """EXTRACT(HOUR/YEAR), DAYNAME, MONTHNAME enrichment
    (P14, `login-audit_proc.sql:157-160`)."""
    c = F.col(ts_col)
    return (
        df.withColumn(f"{prefix}login_hour", F.hour(c))
        .withColumn(f"{prefix}login_day", F.date_format(c, "EEE"))
        .withColumn(f"{prefix}login_month", F.date_format(c, "MMM"))
        .withColumn(f"{prefix}login_year", F.year(c))
    )


# Masks mirror `01 Create DB+Schema.sql:47-60` (pii/email/phone policies).
DEFAULT_MASKS = {
    "pii": "** PII **",
    "email": "** EMAIL **",
    "phone": "** PHONE **",
}


def mask_columns(df: DataFrame, masks: Mapping[str, str]) -> DataFrame:
    """Masked view of df: each column in ``masks`` replaced by its
    literal mask (P17). Equivalent to the reference's masking policies
    applied for an unprivileged role; implemented as a view-layer
    projection rewrite."""
    cols = [
        F.lit(masks[c]).alias(c) if c in masks else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def device_enrichment(device_interface: str, mobile_device: str, web_interface: str):
    """login_audit device enrichment (P13, `login-audit_proc.sql:135-154`):
    returns (device_category, device_os, is_mobile) Columns.

    Faithful to the reference: category ∈ Apple/Android/Web/Unknown,
    web branch requires non-null AND non-empty WebInterface."""
    di = F.col(device_interface)
    md = F.col(mobile_device)
    wi = F.col(web_interface)
    web_ok = wi.isNotNull() & (wi != "")
    device_category = (
        F.when(di == "iOS", F.lit("Apple"))
        .when(di == "Android", F.lit("Android"))
        .when(web_ok, F.lit("Web"))
        .otherwise(F.lit("Unknown"))
    )
    device_os = (
        F.when(di == "iOS", F.lit("iOS"))
        .when(di == "Android", F.lit("Android"))
        .when(web_ok, F.lit("Web"))
        .otherwise(F.lit("Unknown"))
    )
    is_mobile = F.when(di.isin("iOS", "Android") | md.isNotNull(), F.lit(True)).otherwise(
        F.lit(False)
    )
    return device_category, device_os, is_mobile
