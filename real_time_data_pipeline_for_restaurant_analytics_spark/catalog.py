"""Testdata catalog: loaders for the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. Loaded with explicit
``spark.read.parquet`` — schema comes from the files; we never
``inferSchema`` on text sources (reference declares DDL explicitly,
SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's parquet
        # converter rejects. Read nanos as long (dynamic SQLConf) and
        # truncate to microseconds — exactly what DuckDB does when it
        # reads the same file, so oracle comparisons stay exact.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
