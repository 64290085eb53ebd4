"""The load generator: every input the benchmark feeds the program.

Stage days come from the repo's own seeded generator
(``tools/datagen.py``). Its time is the generator's work, reported
apart from the program's metrics.
"""

from __future__ import annotations

import csv
import importlib.util
import json
import os
import shutil
from datetime import date, timedelta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAY1 = date(2024, 5, 1)

#: Source columns that form each entity's business key, as
#: (file stem, extension, key columns in source spelling).
SOURCE_KEYS = {
    "location": ("location", "csv", ["locationid"]),
    "restaurant": ("restaurant", "csv", ["restaurantid"]),
    "menu": ("menu_items", "csv", ["menuid"]),
    "orders": ("orders", "csv", ["orderid"]),
    "order_item": ("order_items", "csv", ["orderitemid", "orderid", "menuitemid"]),
    "delivery": ("delivery", "csv", ["deliveryid", "orderid", "deliveryagentid"]),
    "delivery_agent": ("delivery_agent", "json", ["deliveryagentid"]),
    "customer": ("customer", "csv", ["customerid"]),
    "customer_address": ("customer_address", "csv", ["addressid"]),
    "login_audit": ("login_audit", "csv", ["loginid"]),
}


def _datagen():
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(ROOT, "tools", "datagen.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def day(n: int) -> date:
    """Calendar date of stage day ``n`` (day 1 is the base snapshot)."""
    return DAY1 + timedelta(days=n - 1)


def write_days(stage_root: str, n_orders: int, seed: int, days: int,
               delta_frac: float = 0.1) -> list[str]:
    """Day 1 is a full snapshot; days 2..``days`` are deltas that
    re-emit ``delta_frac`` of the keys changed plus some new keys.
    Returns the ``YYYY/M/D/`` prefix of each day."""
    gen = _datagen().generate_day
    return [
        gen(stage_root, day(n), n_orders, seed, 0.0 if n == 1 else delta_frac)
        for n in range(1, days + 1)
    ]


def land_in_order(paths: list[str], landing_dir: str, t0: float) -> list[str]:
    """Copy ``paths`` into ``landing_dir`` as ``000.<ext>``, ``001.<ext>``
    ... with strictly increasing mtimes in list order. Spark's file
    source orders a backlog by mtime, so copies made within the same
    clock tick could otherwise drain out of day order."""
    os.makedirs(landing_dir, exist_ok=True)
    out = []
    for i, src in enumerate(paths):
        dst = os.path.join(landing_dir, f"{i:03d}{os.path.splitext(src)[1]}")
        shutil.copyfile(src, dst)
        os.utime(dst, (t0 + i, t0 + i))
        out.append(dst)
    return out


def entity_file(prefix: str, entity: str) -> str:
    stem, ext, _ = SOURCE_KEYS[entity]
    return os.path.join(prefix, f"{stem}.{ext}")


def source_keys(path: str, entity: str, source_columns: list[str]) -> set[tuple]:
    """Business keys present in one stage file, read with the same
    positional (csv) or by-name (json) contract as the stage readers."""
    _, ext, key = SOURCE_KEYS[entity]
    if ext == "json":
        keys = set()
        with open(path) as f:
            for line in f:
                if line.strip():
                    rec = {k.lower(): v for k, v in json.loads(line).items()}
                    keys.add(tuple(str(rec[k]) for k in key))
        return keys
    idx = [source_columns.index(k) for k in key]
    with open(path, newline="") as f:
        rows = csv.reader(f)
        next(rows)
        return {tuple(r[i] for i in idx) for r in rows}


def source_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def source_rows(paths: list[str]) -> int:
    n = 0
    for p in paths:
        with open(p) as f:
            n += sum(1 for line in f if line.strip())
        if not p.endswith(".json"):
            n -= 1  # header
    return n
