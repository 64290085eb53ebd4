"""Driver-hash mimic CLI: run the pandas-path comparison (Spark via
``toPandas()`` vs DuckDB via ``.df()``, dtype + per-cell repr) over
registered queries — the same check pytest runs per-query in
tests/test_oracle_parity.py::test_hash_contract_pandas_path, exposed
here for ad-hoc bisecting at any scale factor.

Round-1 finding behind it: 15 queries were value-identical to the
oracle but ``hash_match:false`` because DuckDB's ``.df()`` coerces
every DECIMAL and every bare ``SUM()`` (HUGEINT) to float64 while
Spark collects ``Decimal``/int64.

Usage:
    python tools/driver_mimic.py [query ...]     # default: all with oracles
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/driver_mimic.py q01_pricing_summary
    MIMIC_JSON=MIMIC_sf0.01.json python tools/driver_mimic.py   # also write a JSON report
"""

from __future__ import annotations

import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries
from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark
from tests.oracle_check import compare_pandas_path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    # Python workers are started by the JVM, not this process, so they
    # find the package only through the environment they inherit
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(app_name="driver_mimic")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = sys.argv[1:] or [n for n, q in qs.items() if q.oracle is not None]
    n_bad = 0
    report: dict[str, dict] = {}
    for name in names:
        q = qs[name]
        if q.oracle is None:
            print(f"SKIP {name} (no oracle)")
            report[name] = {"status": "no_oracle"}
            continue
        stats: dict = {}
        try:
            probs = compare_pandas_path(spark, name, q.build, q.oracle, sf_dir, stats=stats)
        except Exception as exc:  # noqa: BLE001
            probs = [f"{name}: ERROR {exc}"]
        vacuous = stats.get("spark_rows") == 0 and stats.get("oracle_rows") == 0
        report[name] = {
            "status": "fail" if probs else ("vacuous" if vacuous else "ok"),
            **stats,
            **({"problems": probs} if probs else {}),
        }
        if probs:
            n_bad += 1
            for p in probs:
                print(f"FAIL {p}")
        else:
            tag = "VAC " if vacuous else "ok  "
            print(f"{tag} {name}  rows={stats.get('spark_rows')}")
    if os.environ.get("MIMIC_JSON"):
        with open(os.environ["MIMIC_JSON"], "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": report}, fh, indent=1)
    print(f"\n{n_bad} failing / {len(names)} checked")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
