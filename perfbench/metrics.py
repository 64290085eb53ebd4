"""Metric definitions and the arithmetic that turns raw measurements
into them. ``BENCHMARK.json`` lists the same names; the tests pin that.

Every end-to-end metric is measured on every workload (a timed run,
tracing off). Every per-layer metric comes from the traced run, and
``PER_LAYER`` records which end-to-end metrics each one should move.
"""

from __future__ import annotations

import statistics

import spans as sp

#: name -> (unit, better, bound)
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "load_s": ("s", "lower", 0.25),
    "kpi_pass_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

#: name -> (unit, better, end-to-end metrics it should move)
PER_LAYER = {
    "load.base_day_s": ("s", "lower", ("load_s",)),
    "load.delta_s": ("s", "lower", ("load_s",)),
    "runner.stage_s": ("s", "lower", ("load_s",)),
    "runner.stats_s": ("s", "lower", ("load_s",)),
    "ledger.s": ("s", "lower", ("load_s",)),
    "merge.plan_s": ("s", "lower", ("load_s",)),
    "snapshot.write_clean_s": ("s", "lower", ("load_s",)),
    "snapshot.write_consumption_s": ("s", "lower", ("load_s",)),
    "snapshot.write_bytes_per_source_byte": ("B/B", "lower", ("load_s",)),
    "snapshot.read_ms": ("ms", "lower", ("kpi_pass_s",)),
    "load.jobs": ("count", "lower", ("load_s",)),
    "load.tasks": ("count", "lower", ("load_s",)),
    "kpis.plan_ms": ("ms", "lower", ("kpi_pass_s",)),
    "kpis.exec_ms": ("ms", "lower", ("kpi_pass_s",)),
    "kpis.jobs": ("count", "lower", ("kpi_pass_s",)),
    "stream.trigger_ms": ("ms", "lower", ("load_s",)),
    "stream.addbatch_ms": ("ms", "lower", ("load_s",)),
    "stream.engine_ms": ("ms", "lower", ("load_s",)),
    "stream.checkpoint_ms": ("ms", "lower", ("load_s",)),
    "stream.head_ms": ("ms", "lower", ("load_s",)),
    "stream.jobs_per_batch": ("count", "lower", ("load_s",)),
    "spark.tasks_failed": ("count", "lower", ()),
    "trace.day_coverage_pct": ("%", "higher", ()),
    "trace.overhead_ms": ("ms", "lower", ()),
    "trace.spans": ("count", "lower", ()),
}


def percentile(xs: list[float], q: int) -> float:
    """The q-th percentile (linear interpolation between order
    statistics; the median for q=50)."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def kpi_latencies(kpi_ms: dict[str, list[float]]) -> list[float]:
    """One latency per KPI builder: its mean over the run's passes."""
    return [statistics.mean(xs) for xs in kpi_ms.values() if xs]


def e2e_values(raw: dict) -> dict[str, float]:
    """Timed sections repeat in every cycle; each metric is the mean
    over the run's cycles, which averages the most machine time."""
    return {
        "setup_s": raw["setup_s"],
        "load_s": statistics.mean(a + b for a, b in zip(raw["day1_load_s"], raw["delta_load_s"])),
        "kpi_pass_s": statistics.mean(raw["kpi_pass_s"]),
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def layer_values(spans: list[sp.Span], raw: dict, source_bytes: int) -> dict[str, float]:
    selfs = sp.self_times(spans)
    by = lambda name: [s for s in spans if s.name == name]  # noqa: E731
    total = lambda name: sum(s.dur for s in by(name))  # noqa: E731
    med_ms = lambda xs: statistics.median(xs) * 1000 if xs else 0.0  # noqa: E731
    days = by("day.load")
    day_tree = [t for d in days for t in sp.subtree(d, spans)]
    writes = by("snapshot.write_clean") + by("snapshot.write_consumption")
    first_pass = by("kpis.pass")[:1]
    batches = by("stream.merge_microbatch")
    data_batches = [
        b for b in batches
        if any(s.name == "runner.merge_entity_batch" for s in sp.subtree(b, spans))
    ]
    jobs = lambda tree: sum(s.attrs.get("jobs", 0) for s in tree)  # noqa: E731
    return {
        "load.base_day_s": statistics.mean(raw["day1_load_s"]),
        "load.delta_s": statistics.mean(raw["delta_load_s"]),
        "runner.stage_s": sum(selfs[s.sid] for s in by("runner.run_entity")),
        "runner.stats_s": total("runner.stats"),
        "ledger.s": total("ledger"),
        "merge.plan_s": total("merge.plan"),
        "snapshot.write_clean_s": total("snapshot.write_clean"),
        "snapshot.write_consumption_s": total("snapshot.write_consumption"),
        "snapshot.write_bytes_per_source_byte":
            sum(s.attrs.get("bytes", 0) for s in writes) / max(source_bytes, 1),
        "snapshot.read_ms": med_ms([s.dur for s in by("snapshot.read")]),
        "load.jobs": jobs(day_tree),
        "load.tasks": sum(s.attrs.get("tasks", 0) for s in day_tree),
        "kpis.plan_ms": med_ms([s.dur for s in by("kpis.plan")]),
        "kpis.exec_ms": med_ms([s.dur for s in by("kpis.exec")]),
        "kpis.jobs": jobs([t for p in first_pass for t in sp.subtree(p, spans)]),
        "stream.trigger_ms": statistics.median(raw["batch_ms"]) if raw["batch_ms"] else 0.0,
        "stream.addbatch_ms":
            statistics.median(raw["addbatch_ms"]) if raw["addbatch_ms"] else 0.0,
        "stream.engine_ms": statistics.median(
            [t - a for t, a in zip(raw["batch_ms"], raw["addbatch_ms"])]
        ) if raw["batch_ms"] else 0.0,
        "stream.checkpoint_ms": med_ms([s.dur for s in by("stream.checkpoint")]),
        "stream.head_ms": med_ms([s.dur for s in by("stream.head")]),
        "stream.jobs_per_batch": statistics.median(
            [jobs(sp.subtree(b, spans)) for b in data_batches]
        ) if data_batches else 0,
        "spark.tasks_failed": sum(s.attrs.get("tasks_failed", 0) for s in spans),
        "trace.day_coverage_pct": 100 * min((sp.coverage(d, spans) for d in days), default=0.0),
        "trace.overhead_ms": raw["trace_overhead_s"] * 1000,
        "trace.spans": len(spans),
    }


def result(correct: bool, attempted: int, failed: int, values: dict, defs: dict) -> dict:
    missing = set(defs) - set(values)
    extra = set(values) - set(defs)
    if missing or extra:
        raise KeyError(f"metric names differ from the definitions: "
                       f"missing {sorted(missing)}, extra {sorted(extra)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values[n]), "unit": defs[n][0]} for n in defs},
    }
