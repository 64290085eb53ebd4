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

from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.functions.keys import hash_key
from real_time_data_pipeline_for_restaurant_analytics_spark.operators.merge import (
    Scd2Config,
    apply_scd2,
    merge_upsert,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import Warehouse
from real_time_data_pipeline_for_restaurant_analytics_spark.plans.kpis import (
    ALL_KPIS,
    ConsumptionViews,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.sources.readers import AUDIT_COLS

from .fixtures import load_two_days

MIN_PARTITION = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
SHUFFLE = re.compile(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)")
JOIN = re.compile(r"\b(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin)\b")


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


def _orders_scd2(spark, wh: Warehouse):
    """The runner's orders dim merge, with the latest clean version as
    the batch."""
    spec = ENTITIES["orders"]
    typed = wh.clean("orders").read(spark)
    tracked = [c for c in typed.columns if c not in spec.key and c not in AUDIT_COLS]
    batch = typed.withColumn("orders_hk", hash_key(*spec.key, *tracked))
    cfg = Scd2Config(key=spec.key, attrs=tracked, created_col=spec.created_col)
    return apply_scd2(wh.dim("orders").read(spark), batch, cfg, F.current_timestamp())


def _joins(df) -> list[str]:
    return JOIN.findall(df._jdf.queryExecution().executedPlan().toString())


def test_small_inputs_plan_no_shuffle(spark, two_day_wh):
    cv = ConsumptionViews(spark, two_day_wh)
    for name, build in ALL_KPIS.items():
        assert _shuffles(build(cv)) == [], name
    assert _shuffles(_orders_upsert(spark, two_day_wh)) == []


def test_scd2_merge_plans_one_join(spark, two_day_wh):
    """``apply_scd2`` evaluates its full outer join once: one join in
    the plan, and over small versions no Exchange under it; forced to
    the multi-partition plan, the join's Exchanges come back."""
    scd2 = _orders_scd2(spark, two_day_wh)
    assert len(_joins(scd2)) == 1
    assert _shuffles(scd2) == []
    with multi_partition(spark):
        forced = _orders_scd2(spark, two_day_wh)
        assert len(_joins(forced)) == 1
        assert _shuffles(forced).count("hashpartitioning") == 2


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
