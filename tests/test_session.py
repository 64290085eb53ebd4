"""The session defaults that the session module docstring explains:
the driver JVM's collector and the generated-code cache bound."""

from __future__ import annotations

import pytest

from real_time_data_pipeline_for_restaurant_analytics_spark.plans.kpis import (
    ALL_KPIS,
    ConsumptionViews,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.session import (
    COLLECTOR_FLAG,
    driver_java_options,
)

ENVS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


@pytest.fixture
def clean_env(monkeypatch):
    for e in ENVS:
        monkeypatch.delenv(e, raising=False)
    return monkeypatch


def test_shared_session_runs_parallel_collector(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    names = {b.getName() for b in mf.getGarbageCollectorMXBeans()}
    assert names == {"PS Scavenge", "PS MarkSweep"}


def _compiles(spark) -> int:
    """Generated classes Janino has compiled so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_kpi_pass_compiles_nothing(spark, two_day_wh):
    """One pass over every KPI needs more generated classes than
    Spark's default cache of 100 holds; the session's bound keeps them
    all, so a second pass reuses every one."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    cv = ConsumptionViews(spark, two_day_wh)
    for build in ALL_KPIS.values():
        build(cv).collect()
    before = _compiles(spark)
    for build in ALL_KPIS.values():
        build(cv).collect()
    assert _compiles(spark) - before == 0


def test_flag_added_by_default(clean_env):
    assert driver_java_options({}) == COLLECTOR_FLAG
    assert driver_java_options({"spark.driver.extraJavaOptions": "-Xms2g"}) == COLLECTOR_FLAG


@pytest.mark.parametrize(
    "key", ["spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions"]
)
def test_no_flag_when_extra_conf_names_a_collector(clean_env, key):
    conf = {key: "-Xms2g -XX:+UseG1GC"}
    assert "-XX:+UseParallelGC" not in driver_java_options(conf)


@pytest.mark.parametrize("env", ENVS)
def test_no_flag_when_environment_names_a_collector(clean_env, env):
    clean_env.setenv(env, "-XX:+UseSerialGC -Dx=1")
    assert driver_java_options({}) == ""


def test_callers_default_options_kept(clean_env):
    conf = {"spark.driver.defaultJavaOptions": "-Dfoo=bar -Xss4m"}
    assert driver_java_options(conf) == f"{COLLECTOR_FLAG} -Dfoo=bar -Xss4m"
    conf["spark.driver.defaultJavaOptions"] += " -XX:+UseZGC"
    assert driver_java_options(conf) == "-Dfoo=bar -Xss4m -XX:+UseZGC"
