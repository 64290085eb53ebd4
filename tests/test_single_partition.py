"""Small snapshot versions read as one partition (``sources/snapshot.py``).

Over a small pipeline-built warehouse, the KPI builders and the SCD1
merge plan no shuffle: a snapshot version whose estimated size is at
most ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` reads
as ``SinglePartition``, and a ``BroadcastExchange`` is the only
exchange left. Lowering that conf brings the Exchanges back, so the
choice follows input size, and the results do not depend on which plan
ran (the config-invariance check: the same two-day ten-entity load and
all KPIs under both plans give equal warehouses and equal KPI rows).
"""

from __future__ import annotations

import contextlib
import re

from real_time_data_pipeline_for_restaurant_analytics_spark.operators.merge import merge_upsert
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import Warehouse
from real_time_data_pipeline_for_restaurant_analytics_spark.plans.kpis import (
    ALL_KPIS,
    ConsumptionViews,
)

from .fixtures import load_two_days

MIN_PARTITION = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
SHUFFLE = re.compile(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)")


@contextlib.contextmanager
def multi_partition(spark):
    """Every non-empty version counts as larger than AQE's minimum
    partition size, so none takes the one-partition plan (and AQE
    coalesces shuffles by parallelism alone); restored on exit."""
    before = spark.conf.get(MIN_PARTITION)
    spark.conf.set(MIN_PARTITION, "1")
    try:
        yield
    finally:
        spark.conf.set(MIN_PARTITION, before)


def _shuffles(df) -> list[str]:
    return SHUFFLE.findall(df._jdf.queryExecution().executedPlan().toString())


def _orders_upsert(spark, wh: Warehouse):
    tbl = wh.clean("orders")
    new, old = tbl.read(spark), tbl.read_previous(spark)
    return merge_upsert(old, new, ["order_id"], [c for c in new.columns if c != "order_id"])


def test_small_inputs_plan_no_shuffle(spark, two_day_wh):
    cv = ConsumptionViews(spark, two_day_wh)
    for name, build in ALL_KPIS.items():
        assert _shuffles(build(cv)) == [], name
    assert _shuffles(_orders_upsert(spark, two_day_wh)) == []


def test_shuffles_return_above_the_min_partition_size(spark, two_day_wh):
    cv = ConsumptionViews(spark, two_day_wh)
    with multi_partition(spark):
        for name, build in ALL_KPIS.items():
            assert _shuffles(build(cv)), name
        assert "hashpartitioning" in _shuffles(_orders_upsert(spark, two_day_wh))
    assert spark.conf.get(MIN_PARTITION) != "1"
    assert _shuffles(_orders_upsert(spark, two_day_wh)) == []


def _equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_results_do_not_depend_on_the_plan(spark, two_days, two_day_wh, tmp_path):
    """The two-day load and every KPI, once on the one-partition plan
    and once with every input forced to the multi-partition plan."""
    with multi_partition(spark):
        forced = load_two_days(spark, two_days, tmp_path / "wh")
        # checkpointed here: a lazy frame would plan after the conf is restored
        forced_kpis = {n: b(ConsumptionViews(spark, forced)).localCheckpoint()
                       for n, b in ALL_KPIS.items()}
    wh = two_day_wh
    for name in ENTITIES:
        for got, want in ((forced.clean(name), wh.clean(name)), (forced.dim(name), wh.dim(name))):
            # the stamp of the load's wall clock is the one column that differs
            g, w = (t.read(spark).drop("_copy_data_ts") for t in (got, want))
            assert _equal(g, w), want.name
    cv = ConsumptionViews(spark, wh)
    for name, build in ALL_KPIS.items():
        assert _equal(forced_kpis[name], build(cv)), name
