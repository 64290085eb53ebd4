"""Sink/source format round-trips: the engine's outputs must survive
ORC, CSV, and JSON materialization with values intact.

The reference's stage contract is CSV/JSON in, table out (SURVEY
§2.1); the Spark-side generalization is that any layer can be
persisted in any columnar/text format. Each round-trip writes the
orders table, reads it back (explicit schema on text formats — the
reference never infers schemas either, §1.2), and asserts exact row
equality against the source.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.catalog import load

from .conftest import SF_SMOKE


def _orders(spark):
    # project to a deterministic, format-neutral column set; money as
    # exact integer cents (CSV/JSON have no double-precision contract)
    return (
        load(spark, SF_SMOKE, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("odate"),
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


def _assert_same(df_a, df_b):
    rows_a = [tuple(r) for r in df_a.orderBy("o_orderkey").collect()]
    rows_b = [tuple(r) for r in df_b.orderBy("o_orderkey").collect()]
    assert rows_a == rows_b and len(rows_a) > 0


@pytest.mark.parametrize("fmt", ["orc", "csv", "json"])
def test_format_round_trip(spark, tmp_path, fmt):
    src = _orders(spark)
    path = str(tmp_path / f"orders_{fmt}")
    writer = src.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(path)

    reader = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        # text formats: explicit schema, never inferred (SURVEY §1.2)
        reader = reader.schema(src.schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    back = reader.load(path)
    _assert_same(src, back)
