"""Per-query profiler for optimization rounds (guide §1).

Usage:
    python tools/qprof.py q145_pipeline_replay [more...] [--reps 2]
        [--sf-dir /root/testdata/sf0.1] [--explain plans/r14/suffix]

For each named query: warm once at sf0.001 (JIT/codegen), then time
``reps`` noop-sink runs at the target scale. The warm run and each rep
report their wall, Spark jobs (``jobs=``, status-tracker deltas) and
generated classes Janino compiled (``compiles=``, codegen-metric
deltas; 0 means the run found all its code cached). Optionally dump
``.explain("formatted")`` to ``plans/<dir>/<query>_<suffix>.txt``.

This is measurement tooling only — never on any query path.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries
from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--explain", default=None,
                    help="plans/<dir>/<suffix>: dump formatted plan to "
                    "plans/<dir>/<query>_<suffix>.txt")
    args = ap.parse_args()

    spark = get_spark(app_name="qprof")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    tracker = spark.sparkContext.statusTracker()
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def counts() -> tuple[int, int]:
        """(Spark jobs run, generated classes compiled) so far."""
        return (len(tracker.getJobIdsForGroup(None) or []),
                codegen.METRIC_COMPILATION_TIME().getCount())

    def timed(q, sf_dir: str) -> str:
        """Build ``q`` over ``sf_dir`` and noop-write it; the wall, jobs
        and compiles of both."""
        jobs, compiles = counts()
        t0 = time.perf_counter()
        q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jobs_after, compiles_after = counts()
        return f"{wall:.3f}s  jobs={jobs_after - jobs}  compiles={compiles_after - compiles}"

    for name in args.queries:
        q = qs[name]
        if not args.no_warm:
            print(f"{name} warm: {timed(q, args.warm_dir)}", flush=True)
        if args.explain:
            d, _, suffix = args.explain.rpartition("/")
            os.makedirs(d or "plans", exist_ok=True)
            df = q.build(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(d or "plans", f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"{name} plan -> {path}", flush=True)
        for rep in range(args.reps):
            spark.sparkContext._jvm.System.gc()
            print(f"{name} rep{rep + 1}: {timed(q, args.sf_dir)}", flush=True)


if __name__ == "__main__":
    main()
