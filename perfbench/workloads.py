"""The two workloads. Both follow one skeleton, closed loop with a
single client thread. A cycle loads a base day into a fresh warehouse
with ``run_for_date``, applies deltas, reruns the last batch day (the
ledger must stage nothing), makes a pass over KPI builders of
``plans.kpis`` and checks the star. They differ in what they load and
how the deltas arrive:

- ``product_day``: the order side of the star (``orders``, the largest
  SCD2 dim, and ``delivery``) on the base day; an ``orders`` delta on a
  second batch day through ``run_for_date``; the nine KPI builders that
  read only those tables;
- ``stream_drain``: ``orders`` on the base day, then backlogs drained
  one file per micro-batch by ``ingest_stream``: an ``orders`` delta,
  and the base day and a delta of ``login_audit`` (the SCD1 fact);
  the five KPI builders that read only ``orders``.

Set-up runs one whole cycle of the same shape on inputs generated from
another seed, so every code path (and every generated-code cache entry, which
is keyed by schema) is warm before the first timed cycle.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import inputs
from checks import Checks, digests, rows_hash, star_digest

from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline import runner
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES
from real_time_data_pipeline_for_restaurant_analytics_spark.plans.kpis import (
    ALL_KPIS,
    ConsumptionViews,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.ingest import (
    ingest_stream,
)


@dataclass(frozen=True)
class Shape:
    entities: tuple[str, ...]  # loaded on the base day by run_for_date
    batch_delta: tuple[str, ...]  # loaded on batch delta day 2 by run_for_date
    # (entity, first day, days) drained as one stream, a file per micro-batch
    streamed: tuple[tuple[str, int, int], ...]
    kpis: tuple[str, ...]
    kpi_passes: int  # per cycle
    n_orders: int = 2000


ORDERS_ONLY_KPIS = (
    "payment_method_distribution", "most_valuable_customer", "revenue_growth_yearly",
    "order_cancellation_rate", "churn_and_retention",
)
ORDER_SIDE_KPIS = ORDERS_ONLY_KPIS + (
    "delivery_status_rate", "avg_successful_deliveries_per_agent", "avg_delivery_time",
    "deliveries_per_hour",
)
SHAPES = {
    "product_day": Shape(("orders", "delivery"), ("orders",), (), ORDER_SIDE_KPIS, 2),
    # orders streams a delta onto its batch base day; login_audit
    # streams its base day and a delta, so the stream creates the table
    "stream_drain": Shape(
        ("orders",), (), (("orders", 2, 1), ("login_audit", 1, 2)), ORDERS_ONLY_KPIS, 2,
    ),
}

#: nominal wall of one timed cycle on 4 cores: ``--seconds`` buys
#: ``seconds / CYCLE_S`` cycles, at least two
CYCLE_S = 10


class NullTracer:
    """Stands in for :class:`spans.Tracer` in timed runs."""

    def span(self, name, **attrs):
        return contextlib.nullcontext()


def settle(spark) -> None:
    """Settle both heaps; once before each timed cycle."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Stage:
    """One generated set of inputs of a workload's shape."""

    root: str
    batch_days: int  # days loaded by run_for_date: 1, 2
    stream_files: dict[str, list[str]]
    expected_keys: dict[str, int]  # distinct source keys per entity after a cycle
    files: list[str]  # every source file a cycle loads


def make_stage(root: str, shape: Shape, n_orders: int, seed: int) -> Stage:
    """Generate every day the shape needs under ``root/src``; copy the
    batch days' files into the ``run_for_date`` stage ``root/batch``."""
    batch = (shape.entities, shape.batch_delta) if shape.batch_delta else (shape.entities,)
    n_days = max([len(batch)] + [first + n - 1 for _, first, n in shape.streamed])
    src = os.path.join(root, "src")
    prefixes = inputs.write_days(src, n_orders, seed, n_days)
    loaded: dict[str, list[str]] = {}
    for p, keep in zip(prefixes, batch):
        for e in keep:
            f = inputs.entity_file(p, e)
            dst = os.path.join(root, "batch", os.path.relpath(f, src))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
            loaded.setdefault(e, []).append(f)
    stream_files = {
        e: [inputs.entity_file(p, e) for p in prefixes[first - 1:first - 1 + n]]
        for e, first, n in shape.streamed
    }
    for e, files in stream_files.items():
        loaded.setdefault(e, []).extend(files)
    expected = {
        e: len(set().union(*(
            inputs.source_keys(p, e, ENTITIES[e].source_columns) for p in files
        )))
        for e, files in loaded.items()
    }
    return Stage(os.path.join(root, "batch"), len(batch), stream_files, expected,
                 [p for files in loaded.values() for p in files])


class Workload:
    def __init__(self, name: str, spark, work: str, seed: int, tracer=None):
        self.name = name
        self.shape = SHAPES[name]
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer or NullTracer()
        self.checks = Checks()
        self.attempted = 0
        self.errors = 0
        self.cycle_s: list[float] = []
        self.day1_s: list[float] = []
        self.delta_s: list[float] = []
        self.kpi_ms: dict[str, list[float]] = {}
        self.kpi_pass_s: list[float] = []
        self.progress: list[dict] = []
        self.digests: list[str] = []
        self.kpi_hashes: list[str] = []
        self.source_bytes = 0
        self.source_rows = 0
        self._n = 0

    # -- inputs -------------------------------------------------------
    def generate(self) -> None:
        s = self.shape
        self.main = make_stage(os.path.join(self.work, "stage"), s, s.n_orders, self.seed)
        # same size as the timed inputs, so the warm-up plans (join
        # strategies, partition counts) and generated code match theirs
        self.warm = make_stage(os.path.join(self.work, "warm_stage"), s, s.n_orders, self.seed + 1)
        self.source_bytes = inputs.source_bytes(self.main.files)
        self.source_rows = inputs.source_rows(self.main.files)

    # -- set-up -------------------------------------------------------
    def warm_up(self) -> None:
        """One whole cycle on inputs of another seed; nothing of it
        is recorded, but a failure fails the run."""
        probe = Workload(self.name, self.spark, self.work, self.seed)
        probe._n = -1
        probe.cycle(self.warm)
        self.attempted += probe.attempted
        self.errors += probe.errors + probe.checks.failed

    # -- the measured loop -------------------------------------------
    def _op(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            self.errors += 1
            print(f"# operation failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def _path(self, *parts: str) -> str:
        return os.path.join(self.work, f"c{self._n}", *parts)

    def _day(self, wh, stage: Stage, n: int) -> float:
        t = time.perf_counter()
        with self.tr.span("day.load", day=n):
            runner.run_for_date(self.spark, wh, stage.root, inputs.day(n + 1))
        return time.perf_counter() - t

    def _drain(self, wh, stage: Stage, entity: str) -> float:
        files = stage.stream_files[entity]
        landing = self._path("landing", entity)
        inputs.land_in_order(files, landing, time.time() - 3600)
        t = time.perf_counter()
        with self.tr.span("stream.drain", entity=entity):
            q = ingest_stream(
                self.spark, wh, ENTITIES[entity], landing,
                self._path("ck", entity), max_files_per_trigger=1,
            )
            q.awaitTermination()
        wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"drain of {entity} failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.progress.extend(batches)
        self.checks.check(
            f"stream.{entity}.batches", len(batches) == len(files),
            f"{len(batches)} data batches for {len(files)} landed files",
        )
        return wall

    def _kpi_pass(self, wh) -> None:
        cv = ConsumptionViews(self.spark, wh)
        rows = []
        t = time.perf_counter()
        with self.tr.span("kpis.pass"):
            for name in self.shape.kpis:
                build = ALL_KPIS[name]

                def one():
                    t = time.perf_counter()
                    with self.tr.span("kpis.plan", kpi=name):
                        df = build(cv)
                    with self.tr.span("kpis.exec", kpi=name):
                        got = df.collect()
                    self.kpi_ms.setdefault(name, []).append((time.perf_counter() - t) * 1000)
                    return got
                got = self._op(one)
                rows.extend((name, *r) for r in (got or []))
        self.kpi_pass_s.append(time.perf_counter() - t)
        self.kpi_hashes.append(rows_hash(rows))

    def cycle(self, stage: Stage) -> None:
        s = self.shape
        wh = runner.Warehouse(self._path("wh"))
        settle(self.spark)
        day1 = self._op(lambda: self._day(wh, stage, 1))
        if day1 is None:
            return
        delta = 0.0
        if stage.batch_days > 1:
            delta += self._op(lambda: self._day(wh, stage, 2)) or 0.0
        for e in stage.stream_files:
            delta += self._op(lambda e=e: self._drain(wh, stage, e)) or 0.0
        with self.tr.span("ledger.rerun"):
            rerun = self._op(lambda: runner.run_for_date(
                self.spark, wh, stage.root, inputs.day(stage.batch_days + 1)))
        self.checks.check(
            "ledger.rerun_stages_nothing",
            rerun is not None and all(r["staged_files"] == 0 for r in rerun),
            str([(r["entity"], r["staged_files"]) for r in rerun or []]),
        )
        for _ in range(s.kpi_passes):
            self._kpi_pass(wh)
        self._verify_star(wh, stage)
        self.day1_s.append(day1)
        self.delta_s.append(delta)

    def _verify_star(self, wh, stage: Stage) -> None:
        """Every entity's current consumption rows and clean rows must
        equal its distinct source keys; the consumption star's digest
        is kept for the repeatability and recorded-value checks."""
        loaded = list(stage.expected_keys)
        frames = {}
        for e in loaded:
            frames[e] = wh.dim(e).read(self.spark)
            frames[f"clean.{e}"] = wh.clean(e).read(self.spark)
        got = digests(frames)
        for e in loaded:
            want, cur, clean = stage.expected_keys[e], got[e]["current"], got[f"clean.{e}"]["rows"]
            self.checks.check(
                f"rows.{e}", cur == want and clean == want,
                f"current={cur} clean={clean} source keys={want}",
            )
        self.digests.append(star_digest({e: got[e] for e in loaded}))

    def run(self, seconds: float) -> float:
        """Timed cycles on the main inputs, as many as ``seconds`` buys
        at ``CYCLE_S`` each: a count fixed in advance, so every run of
        the same ``seconds`` does the same work. Returns the measured
        wall."""
        t0 = time.perf_counter()
        for _ in range(max(2, round(seconds / CYCLE_S))):
            t = time.perf_counter()
            self.cycle(self.main)
            self.cycle_s.append(time.perf_counter() - t)
            self._n += 1
        return time.perf_counter() - t0

    def finish_checks(self) -> None:
        ck = self.checks
        ck.check("star.repeatable", len(set(self.digests)) == 1, str(self.digests))
        ck.check("kpis.repeatable", len(set(self.kpi_hashes)) == 1, str(self.kpi_hashes))
        ck.check("cycles.complete", len(self.day1_s) == len(self.cycle_s),
                 f"{len(self.day1_s)} of {len(self.cycle_s)} cycles loaded")
        if self.digests and self.kpi_hashes:
            ck.expect_recorded(self.name, self.seed, {
                "star": self.digests[0], "kpis": self.kpi_hashes[0],
            })

    # -- results ------------------------------------------------------
    def raw(self) -> dict:
        return {
            "day1_load_s": self.day1_s,
            "delta_load_s": self.delta_s,
            "kpi_ms": self.kpi_ms,
            "kpi_pass_s": self.kpi_pass_s,
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in self.progress],
            "addbatch_ms": [p["durationMs"].get("addBatch", 0) for p in self.progress],
            "stream_rows": sum(p["numInputRows"] for p in self.progress),
        }
