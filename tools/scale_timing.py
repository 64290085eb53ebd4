"""Paired sf0.1 / sf1.0 timing for selected queries — the SCALE_r*.md
measurement harness, factored out of ad-hoc session scripts so the
method is reproducible: one dedicated local[32] session, sf0.001
warm-up per query (steady-state codegen/JIT), System.gc() before each
timing, noop sink (forces every output column), best of 2, both scale
factors interleaved per query in the same session.

Usage: python tools/scale_timing.py q127_priority_mix q138_bpe_train_batched ...
       (no args: the queries named in $SCALE_QUERIES, comma-separated)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries
from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
SF10 = "/root/repo/.scaledata/sf1.0"
WARM = "/root/testdata/sf0.001"


def timed(spark, q, sf_dir: str) -> float:
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    names = sys.argv[1:] or [
        n for n in os.environ.get("SCALE_QUERIES", "").split(",") if n
    ]
    qs = all_queries()
    spark = get_spark(app_name="scale_timing")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'query':40s} {'sf0.1':>8s} {'sf1.0':>8s} {'ratio':>6s}")
    for name in names:
        q = qs[name]
        q.build(spark, WARM).write.format("noop").mode("overwrite").save()
        t01 = min(timed(spark, q, SF01) for _ in range(2))
        t10 = min(timed(spark, q, SF10) for _ in range(2))
        print(f"{name:40s} {t01:8.2f} {t10:8.2f} {t10 / t01:6.2f}", flush=True)


if __name__ == "__main__":
    main()
