"""Snapshot-diff change-data-capture (q90): classify every key across
two snapshots of an aggregate state as insert / delete / update /
unchanged.

This is the batch complement of the reference's stream-driven MERGE
surface (SURVEY §2.5; streams + 3-branch MERGE,
`02 Location Entity.sql:29-32`, `order_proc.sql:195-303`): when no
change feed exists, the only way to derive one is to diff two full
snapshots. q90's two snapshots are windows of one table, so the diff
folds into ONE scan and ONE key shuffle. The row-level diff of two
separate snapshots is ``operators/merge.change_feed``.

All compared values are integer (counts, cents), so the
changed/unchanged verdict is engine-exact, and absent sides are
COALESCEd to -1 sentinels to keep the output frame nullable-free
(pandas would otherwise coerce nullable int columns to float64 and
break hash stability).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


def _cents(col: str) -> Column:
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("bigint")


# Two one-year order windows, offset by a year: customers active only
# in the first read as deletes, only in the second as inserts.
_OLD_LO, _OLD_HI = "1995-01-01", "1997-01-01"
_NEW_LO, _NEW_HI = "1996-01-01", "1998-01-01"

_CDC_ORACLE = f"""
WITH old AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders
  WHERE o_orderdate >= '{_OLD_LO}' AND o_orderdate < '{_OLD_HI}'
  GROUP BY o_custkey
), new AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders
  WHERE o_orderdate >= '{_NEW_LO}' AND o_orderdate < '{_NEW_HI}'
  GROUP BY o_custkey
)
SELECT COALESCE(o.o_custkey, n.o_custkey) AS o_custkey,
       CASE WHEN o.o_custkey IS NULL THEN 'insert'
            WHEN n.o_custkey IS NULL THEN 'delete'
            WHEN o.n_orders <> n.n_orders OR o.revenue_cents <> n.revenue_cents
              THEN 'update'
            ELSE 'unchanged' END AS change_type,
       COALESCE(o.n_orders, -1) AS old_n_orders,
       COALESCE(n.n_orders, -1) AS new_n_orders,
       COALESCE(o.revenue_cents, -1) AS old_revenue_cents,
       COALESCE(n.revenue_cents, -1) AS new_revenue_cents
FROM old o FULL OUTER JOIN new n ON o.o_custkey = n.o_custkey
ORDER BY o_custkey
"""


@register(
    "q90_snapshot_diff_cdc",
    oracle=_CDC_ORACLE,
    doc="Snapshot-diff CDC: per-customer order state over two "
    "offset one-year windows, full-outer diffed into "
    "insert/delete/update/unchanged — the derived change feed when no "
    "stream exists; one shuffle, integer-exact comparisons.",
)
def q90_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both snapshots come from the SAME table over overlapping windows,
    # so the full-outer diff folds into ONE scan + ONE shuffle
    # (round 14, guide §2.2/§3.5): per row, membership in each window
    # is a flag, the per-window (count, cents-sum) are conditional
    # aggregates, and "key absent from a snapshot" is exactly
    # n_orders = 0 (every present key has >= 1 order). Results are
    # row-identical to a full-outer diff of the two window aggregates
    # (the oracle's formulation).
    orders = load(spark, sf_dir, "orders")
    in_old = (F.col("o_orderdate") >= F.lit(_OLD_LO)) & (
        F.col("o_orderdate") < F.lit(_OLD_HI)
    )
    in_new = (F.col("o_orderdate") >= F.lit(_NEW_LO)) & (
        F.col("o_orderdate") < F.lit(_NEW_HI)
    )
    cents = _cents("o_totalprice")
    zero = F.lit(0).cast("bigint")
    agg = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(_OLD_LO))
            & (F.col("o_orderdate") < F.lit(_NEW_HI))
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(in_old, 1).otherwise(0)).cast("bigint").alias("old_n"),
            F.coalesce(F.sum(F.when(in_old, cents)), zero)
            .cast("bigint")
            .alias("old_c"),
            F.sum(F.when(in_new, 1).otherwise(0)).cast("bigint").alias("new_n"),
            F.coalesce(F.sum(F.when(in_new, cents)), zero)
            .cast("bigint")
            .alias("new_c"),
        )
    )
    has_old = F.col("old_n") > 0
    has_new = F.col("new_n") > 0
    return (
        agg.filter(has_old | has_new)
        .select(
            "o_custkey",
            F.when(~has_old, F.lit("insert"))
            .when(~has_new, F.lit("delete"))
            .when(
                (F.col("old_n") != F.col("new_n"))
                | (F.col("old_c") != F.col("new_c")),
                F.lit("update"),
            )
            .otherwise(F.lit("unchanged"))
            .alias("change_type"),
            F.when(has_old, F.col("old_n")).otherwise(-1).cast("bigint").alias("old_n_orders"),
            F.when(has_new, F.col("new_n")).otherwise(-1).cast("bigint").alias("new_n_orders"),
            F.when(has_old, F.col("old_c")).otherwise(-1).cast("bigint").alias("old_revenue_cents"),
            F.when(has_new, F.col("new_c")).otherwise(-1).cast("bigint").alias("new_revenue_cents"),
        )
        .orderBy("o_custkey")
    )
