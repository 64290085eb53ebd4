"""Safe/strict cast operators (SURVEY §2.2 P1/P2).

The reference leans on Snowflake's TRY_* family to type the all-text
stage layer (`03 Restaurant Entity.sql:141-156`, `09 Order
Entity.sql:143-156`, `customer_proc.sql:146-147`): NULL on parse
failure, never abort. Spark equivalents are ``try_cast`` and the
null-on-miss behavior of ``to_date``/``to_timestamp`` with ANSI off.

All of these are JVM-side Catalyst expressions — no Python UDFs —
so they stay inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def try_to_number(col: Column | str) -> Column:
    """TRY_TO_NUMBER → bigint-or-null (`07:102`)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("bigint")


def try_to_decimal(col: Column | str, precision: int = 10, scale: int = 2) -> Column:
    """TRY_TO_DECIMAL(x, p, s) (`03:146`, `10:66-69`)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(f"decimal({precision},{scale})")


def try_to_boolean(col: Column | str) -> Column:
    """CASE lower(x)='true'/'false' → bool else NULL (`06:117-121`)."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(F.trim(c))
    return (
        F.when(low == "true", F.lit(True))
        .when(low == "false", F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def try_to_date(col: Column | str, fmt: str = "yyyy-MM-dd") -> Column:
    """TRY_TO_DATE(x, 'YYYY-MM-DD') (`04:146-147`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit(fmt)).cast("date")


def try_to_timestamp(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """TRY_TO_TIMESTAMP[_NTZ/_TZ](x, fmt) (`09:143-156`, `02:169-170`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit(fmt))


def ppm_floor(num: Column, den: Column) -> Column:
    """Integer parts-per-million ratio, cross-engine exact: FLOOR over
    a DECIMAL(20,6) numerator so Spark (truncating bigint cast) and
    DuckDB (rounding bigint cast) cannot disagree on the last digit.
    The one blessed ppm formula — every ratio-in-ppm output must go
    through this (or replicate it verbatim in SQL oracles as
    ``CAST(FLOOR(CAST(num AS DECIMAL(20,6)) * 1000000 / den) AS
    BIGINT)``)."""
    return F.floor(num.cast("decimal(20,6)") * 1000000 / den).cast("bigint")
