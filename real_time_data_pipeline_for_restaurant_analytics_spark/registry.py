"""Query registry: the bridge between the engine's operator surface
and the driver's correctness harness (``__spark_entry__.py``).

Every operator from SURVEY.md §2 registers one (or more) named
queries; each query is a DataFrame builder ``(spark, sf_dir) -> DF``
plus, where SQL-expressible, an ANSI-SQL oracle string DuckDB runs on
the same parquet. Column names/types are aligned on both sides so the
driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}
_ORDER_CACHE: list[str] | None = None


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, build=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sample_index(root: str) -> tuple[dict[str, tuple[int, bool]], dict[str, int]]:
    """One pass over the driver's ``CORRECTNESS_r*.json`` artifacts,
    returning the :func:`driver_sample_history` and
    :func:`first_sample_rounds` maps. Missing/corrupt artifacts are
    skipped."""
    hist: dict[str, tuple[int, bool]] = {}
    first: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if name not in first or rnd < first[name]:
                first[name] = rnd
            prev = hist.get(name)
            if prev is not None and rnd < prev[0]:
                continue
            green = (
                isinstance(row, dict)
                and row.get("err") in (None, "no_oracle")
                and all(
                    row.get(k) is not False
                    for k in ("rows_match", "schema_match", "hash_match")
                )
            )
            hist[name] = (rnd, green)
    return hist, first


def driver_sample_history(root: str = _ROOT) -> dict[str, tuple[int, bool]]:
    """``{query_name: (last_round_sampled, green_at_that_round)}`` from
    the driver's historical ``CORRECTNESS_r*.json`` artifacts.

    ``green`` means the row's err is None (or the by-design
    ``no_oracle`` rows-only check) and no match flag is False. Queries
    never sampled by any round are absent. Missing/corrupt artifacts
    are skipped — in a fresh checkout this returns ``{}`` and the
    rotation degrades to plain name order.
    """
    return _sample_index(root)[0]


def first_sample_rounds(root: str = _ROOT) -> dict[str, int]:
    """``{query_name: first_round_sampled}`` from the driver's
    CORRECTNESS artifacts — the companion of
    :func:`driver_sample_history` (which keeps the LATEST round; the
    tuple shape there is pinned by tests, so the first-round view is
    its own map). Used to spot queries ADDED last round."""
    return _sample_index(root)[1]


def rotation_order(
    names: list[str],
    history: dict[str, tuple[int, bool]] | None = None,
    first_rounds: dict[str, int] | None = None,
) -> list[str]:
    """Deterministic driver-sample rotation (round-7 verdict item 1;
    newest-keeps-a-standing-row added round-10, verdict item 6).

    The driver's per-round CORRECTNESS check takes the FIRST ~50
    entries of ``queries()`` in dict order, so the registry's
    iteration order IS the sample manifest. Order so the prefix
    rotates through the whole registry:

    1. queries whose most recent driver sample was NOT green (a fixed
       defect awaiting hard re-confirmation — e.g. the round-1 hash
       failures q23/q24/q44/q47, fixed in round 2 but never resampled);
    2. queries never driver-sampled in any round (name order);
    3. green queries FIRST sampled in the most recent round — i.e.
       added last round: they keep a standing driver row for one more
       round instead of immediately rotating to the back (a regression
       in brand-new machinery is likelier than in ten-round-stable
       code, and the old tail still gets ≥40 rotated slots);
    4. remaining green queries, least-recently-sampled round first.

    Ties break by name, so the order is stable across calls and
    checkouts. Reference analog: the probe-SELECT verification habit
    after each entity load (``02 Location Entity.sql:50,83``) — every
    surface gets re-probed, not just the ones loaded first.
    """
    if history is None:
        history, read_first = _sample_index(_ROOT)
        if first_rounds is None:
            first_rounds = read_first
    first_rounds = first_rounds or {}
    latest = max((rnd for rnd, _ in history.values()), default=0)

    def qnum(n: str) -> int:
        m = re.match(r"q(\d+)", n)
        return int(m.group(1)) if m else -1

    # "Added last round" = first sampled in the latest round AND
    # numbered past everything any EARLIER round sampled (query ids
    # are assigned monotonically). The first-sample condition alone
    # would misclassify an old query whose rotation slot merely came
    # up late (the q80-q99 tail reached its first driver sample in
    # r9 after eight rounds in the registry) and crowd out the
    # rotated window.
    max_prev_id = max(
        (qnum(n) for n, r in first_rounds.items() if r < latest), default=-1
    )

    def key(n: str) -> tuple[int, int, str]:
        entry = history.get(n)
        if entry is None:
            return (1, 0, n)
        rnd, green = entry
        if not green:
            return (0, rnd, n)
        if rnd == latest and first_rounds.get(n) == latest and qnum(n) > max_prev_id:
            return (2, rnd, n)
        return (3, rnd, n)

    return sorted(names, key=key)


def all_queries() -> dict[str, Query]:
    # Import registrars lazily to avoid import cycles; each module
    # registers its queries at import time.
    from .plans import analytics, incremental, olap, sessions  # noqa: F401
    from .operators import (  # noqa: F401
        approx,
        asof,
        bloom,
        cdc,
        curation,
        dedup,
        dq,
        layout,
        multimodal,
        sampling,
        similarity,
        skew,
        text,
    )
    from .pipeline import replay  # noqa: F401
    from .sources import corpus  # noqa: F401
    from .streaming import scrub, windows  # noqa: F401

    global _ORDER_CACHE
    if _ORDER_CACHE is None or set(_ORDER_CACHE) != set(_REGISTRY):
        # Computed once per process (refreshed only if the registry
        # itself grows): the order reads the CORRECTNESS_r*.json
        # artifacts, and re-deriving it per call would both re-parse
        # them on every queries()/oracle_sql() call and let a
        # CORRECTNESS file written MID-PROCESS silently shift the
        # first-50 sample prefix between two calls in the same run —
        # the manifest must be stable for the lifetime of the process
        # that was certified against it.
        _ORDER_CACHE = rotation_order(list(_REGISTRY))
    return {name: _REGISTRY[name] for name in _ORDER_CACHE}


def queries() -> dict[str, Builder]:
    return {name: q.build for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
