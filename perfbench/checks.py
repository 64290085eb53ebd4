"""Output checks: value digests of the consumption star and the KPI
results, compared with the values recorded per seed in
``expected.json``.

Digests leave out every column stamped from the wall clock or from the
checkout's path: the four stage audit columns and the SCD2 effective
dates (a changed version starts at the load's ``batch_ts``).
"""

from __future__ import annotations

import decimal
import hashlib
import json
import os

from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")

VOLATILE = {
    "_stg_file_name", "_stg_file_load_ts", "_stg_file_md5", "_copy_data_ts",
    "eff_start_date", "eff_end_date",
}


def table_digest(df, label: str):
    """One-row frame: ``label``, row count, current-row count and an
    order-free value hash of ``df``."""
    cols = sorted(c for c in df.columns if c not in VOLATILE)
    current = (
        F.sum(F.col("is_current").cast("long")) if "is_current" in df.columns
        else F.count(F.lit(1))
    )
    return df.agg(
        F.lit(label).alias("table"),
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(current, F.lit(0)).alias("current"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string").alias("h"),
    )


def digests(frames: dict):
    """Digest every frame of ``{label: df}`` in one Spark action;
    returns ``{label: {"rows", "current", "h"}}``."""
    from functools import reduce

    parts = [table_digest(df, label) for label, df in frames.items()]
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {r["table"]: {"rows": r["rows"], "current": r["current"], "h": r["h"]} for r in rows}


def star_digest(tables: dict[str, dict]) -> str:
    blob = json.dumps(tables, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _canon(v):
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, decimal.Decimal):
        return str(v.normalize()) if v == v else "nan"
    return repr(v)


def rows_hash(rows) -> str:
    """Order-free hash of collected rows (floats to nine significant
    digits, so a change in summation order does not change it)."""
    lines = sorted("|".join(_canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def recorded(workload: str, seed: int) -> dict | None:
    try:
        with open(EXPECTED) as f:
            return json.load(f).get(workload, {}).get(str(seed))
    except FileNotFoundError:
        return None


class Checks:
    """Named pass/fail checks; a failed check counts as a failed
    operation of the run."""

    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.results.append((name, bool(ok), detail))
        return bool(ok)

    def expect_recorded(self, workload: str, seed: int, values: dict) -> None:
        rec = recorded(workload, seed)
        if rec is None:
            self.results.append(("recorded_values", True, f"no values recorded for seed {seed}"))
            return
        for k, v in values.items():
            self.check(f"recorded.{k}", rec.get(k) == v, f"got {v}, recorded {rec.get(k)}")

    @property
    def failed(self) -> int:
        return sum(1 for _, ok, _ in self.results if not ok)
