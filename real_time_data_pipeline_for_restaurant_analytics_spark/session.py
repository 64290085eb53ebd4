"""SparkSession factory.

The reference ran on a Snowflake x-small warehouse
(`01 Create DB+Schema.sql:5-15`); here the equivalent knob set is the
Spark conf. Defaults are chosen for the local[32] test box but every
knob is the one you would also tune on a 1000-executor cluster:

- AQE on (runtime join-strategy switch, skew-join splitting,
  partition coalescing) — replaces Snowflake's adaptive execution.
- shuffle partitions sized to the data (32 locally; at 100 TB you set
  this to ~2-3x total cores or rely on AQE coalescing from a high
  initial count).
- Arrow enabled so any pandas_udf/mapInPandas path is batched, never
  row-at-a-time.
- session timezone pinned to UTC so timestamp semantics are stable
  across drivers/executors (the reference uses TIMESTAMP_NTZ /
  explicit TZ columns; pinning UTC gives the same determinism).
- the driver JVM (in ``local[n]`` also the only executor) runs the
  Parallel collector, ``-XX:+UseParallelGC``, instead of JDK 17's
  default G1. See below.
- the generated-code cache holds 1,000 classes instead of 100. See
  below.

Collector. With little live data and short pauses, G1 grows its young
generation toward 60% of the heap, and large arrays take whole regions
of their own, so over a run it allocates into, and makes resident,
nearly every region of the committed heap (a 2 GB ``product_day`` run
allocated 1,779 of its 2,048 1 MB regions; eden reached 1,228 of them).
Parallel keeps a fixed young generation, a third of the heap, and
fills the old generation from its low end (9% used at the end of the
same run), so the resident set follows the heap in use. This matters
only when the heap is committed up front (``-Xms`` equal to the driver
memory, as ``perfbench/run.py`` and any pinned-heap deployment set
it). With a 2 GB ``-Xms`` heap on 4 cores, peak RSS fell from a median
of 2,474 to 1,425 MB on ``product_day`` (10/10 interleaved pairs) and
from 2,428 to 1,449 MB on ``stream_drain`` (5/5), with set-up, load and
KPI times level. Without ``-Xms`` the two collectors came out level
(1,379/1,458 MB under G1, 1,407/1,433 MB under Parallel, two seeds).
The Serial collector is not used: it collects on one thread, which an
8 GB session with many cores should not.

The flag goes into ``spark.driver.defaultJavaOptions``, which Spark
places before ``spark.driver.extraJavaOptions``, so a caller's own
options still apply. Two collector flags stop the JVM from starting
("Multiple garbage collectors selected"), so none is added when the
caller already names one (``-XX:+Use…GC``) in ``extra_conf``'s
``spark.driver.extraJavaOptions`` or ``spark.driver.defaultJavaOptions``
or in ``$JAVA_TOOL_OPTIONS``, ``$_JAVA_OPTIONS`` or
``$SPARK_SUBMIT_OPTS``. A caller's ``spark.driver.defaultJavaOptions``
is kept, after the flag.

Generated-code cache. Spark compiles each generated class (a
whole-stage pipeline, a projection, an ordering) with Janino, 21 ms
each on average in a perfbench run (median 13 ms), and keeps the
result in an LRU cache keyed by the Java source.
``spark.sql.codegen.cache.maxEntries`` bounds it, 100 classes by
default. The warehouse's working set is larger. A warm perfbench
cycle (4 cores, seed 101) touches ~155 classes on ``product_day`` and
on ``stream_drain``; one pass over the 15 ``ALL_KPIS`` builders on the
ten-entity test warehouse compiles 124. LRU over a cyclic sequence
longer than the cache hits almost nothing, so at 100 each warm cycle
compiled 155 classes again, and a second back-to-back KPI pass 87. At
1,000, a warm cycle compiles 22 (``product_day``) and 16
(``stream_drain``), and the second KPI pass 0. A ten-entity two-day
load plus two KPI passes compiles 599 classes in all, so the bound
leaves headroom. LRU has the inclusion property: on the same sequence
of lookups a larger cache never misses more, so no caller compiles
more than at 100. The cold cycle compiles every class once either way
(158 / 162), and driver Metaspace after it and two warm cycles was
level (166–170 MB at either bound). The bound is a static conf: Spark
sizes the cache once per JVM, from the session that compiles the first
class, so it is set when the session is built, and a session rebuilt
in the same JVM keeps the first size. ``extra_conf`` still overrides
it.

Two costs are left, and neither is sized for:

- the classes a warm cycle still compiles are those of plans that
  carry the load's wall clock. Catalyst folds ``current_timestamp()``
  (``_copy_data_ts``, ``batch_ts``) into a timestamp literal, and
  codegen inlines the literal into the Java source, so each batch's
  source is new. With the clock pinned the residue is 0. Any constant
  expression folds back into an inlined literal, so there is no clean
  fix.
- the query registry is a harness, not a product path, and its
  working set is thousands of classes: one pass over all registered
  queries at sf0.001, in ``bench.py``'s order, compiled 4,363 classes
  at 100 and 3,098 at 1,000, and a second pass at 1,000 still compiled
  2,898 (4,334 at 100). ``bench.py``'s second pass therefore
  recompiles most of its code at either bound.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

COLLECTOR_FLAG = "-XX:+UseParallelGC"
_COLLECTOR_CHOICE = re.compile(r"-XX:\+Use\w+GC\b")
_DEFAULT_OPTS = "spark.driver.defaultJavaOptions"
_EXTRA_OPTS = "spark.driver.extraJavaOptions"
_JVM_OPTION_ENVS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


def driver_java_options(extra_conf: dict[str, str]) -> str:
    """The ``spark.driver.defaultJavaOptions`` value for a session: the
    caller's own value, preceded by :data:`COLLECTOR_FLAG` unless the
    caller already chose a collector (see the module docstring)."""
    caller = extra_conf.get(_DEFAULT_OPTS, "")
    sources = [extra_conf.get(_EXTRA_OPTS, ""), caller]
    sources += [os.environ.get(e, "") for e in _JVM_OPTION_ENVS]
    if any(_COLLECTOR_CHOICE.search(s) for s in sources):
        return caller
    return f"{COLLECTOR_FLAG} {caller}".strip()


def _local_dir() -> str:
    """Spark scratch (shuffle blocks, broadcast, disk spill) location.

    ``$SPARK_GRAFT_LOCAL_DIR`` if set, else the disk-backed system
    tempdir (via :func:`scratch_base`, which also honours
    ``$SPARK_GRAFT_TMPDIR``). On a cluster you point spark.local.dir
    at local NVMe (guide §2.1/§6); RAM-backed tmpfs is deliberately
    NOT auto-selected — shuffle/spill pages there compete with the
    JVM heap and Python workers for the same RAM/cgroup budget, and
    spill exists to relieve memory (guide §5). Opt in via the env
    vars only with measured headroom.
    """
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d:
        return d
    from .workdirs import scratch_base

    p = os.path.join(scratch_base(), "spark_graft_local")
    os.makedirs(p, exist_ok=True)
    return p


def get_spark(
    app_name: str = "real_time_data_pipeline_for_restaurant_analytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    extra_conf = dict(extra_conf or {})
    java_opts = driver_java_options(extra_conf)
    if java_opts:
        extra_conf[_DEFAULT_OPTS] = java_opts
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # static: Spark sizes the cache once per JVM (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Broadcast threshold: dims in this model (region/nation/part/
        # supplier, menu/location/restaurant) are small — let them fly.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Files: 128 MB split target is right for local AND cluster.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.local.dir", _local_dir())
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
