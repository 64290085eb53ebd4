"""Benchmark harness: runs EVERY registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": 0.1}

Full-registry coverage (round-2 change): the set is derived from the
registry, so a newly registered query is automatically benched and
every query has a per-round regression baseline. The quadratic
exactness kernels (q20 all-pairs Jaccard, q23 all-pairs cosine) are
included as measured baselines — at 100 TB their role is verification
on LSH candidates only (q49), never a full-corpus pass.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries
from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark

HEADLINE = sorted(all_queries())

#: The driver records only the last ~2000 chars of stdout; the summary
#: line must fit with margin. Single source of truth — imported by
#: tests/test_bench_contract.py so the contract and the budget can't
#: drift apart (they were previously two coincidentally-aligned magic
#: numbers).
TAIL_BUFFER = 2000
_LINE_BUDGET = TAIL_BUFFER - 110  # margin for driver-side prefixes


def summary_line(
    timings: dict[str, float],
    errors: dict[str, str],
    sf: float,
    partial: bool,
    max_error_samples: int = 5,
    n_single_rep: int | None = None,
    fixture_cache: tuple[int, int] | None = None,
) -> str:
    """ONE compact JSON line that fits the driver's 2000-char tail
    buffer (round-5 postmortem: the full-name line overflowed it and
    BENCH_r05 recorded parsed=null). Query keys are shortened to their
    qNN prefix and values rounded to 2 dp; the error section is bounded
    to ``max_error_samples`` entries + a total count (a systemic
    failure — bad sf dir → most queries raise — would otherwise blow
    the same buffer via ~70-char error entries). The full-name maps go
    to stderr for humans. Contract pinned by tests/test_bench_contract.
    """
    def render(decimals: int, keep: int) -> str:
        items = sorted(timings.items(), key=lambda kv: -kv[1])[:keep]
        short = {n.split("_", 1)[0]: round(t, decimals) for n, t in items}
        payload = {
            "metric": "headline_query_wall_time",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": short,
            "sf": sf,
        }
        if n_single_rep is not None:
            # the timing policy, recorded in-band (round-10, verdict
            # item 5): every number is min-of-2 except n1 queries the
            # budget left single-rep — cross-round comparisons should
            # trust the min-of-2 subset
            payload["policy"] = "min2"
            payload["n1"] = n_single_rep
        if fixture_cache is not None:
            # [hits, misses] of multimodal.PAYLOAD_CACHE_STATS. No
            # fixture cache is left to count into them (every payload
            # fixture is synthesized inside its query), so this is
            # always [0, 0]; it stays so the line keeps its shape.
            payload["fx"] = list(fixture_cache)
        dropped = len(timings) - len(short)
        if dropped:
            payload["n_queries_omitted"] = dropped
        if partial:
            payload["partial"] = True
        if errors:
            payload["errors"] = dict(
                (n.split("_", 1)[0], msg[:60])
                for n, msg in list(errors.items())[:max_error_samples]
            )
            payload["n_errors"] = len(errors)
        return json.dumps(payload, separators=(",", ":"))

    # Degrade deterministically until the line fits the tail buffer
    # with margin: full 2-dp map → 1-dp map → drop the FASTEST
    # queries (slowest are the signal) with an omitted count. The
    # registry grows every round, so a fixed format would re-overflow
    # eventually; this keeps the line valid at any registry size.
    for decimals, keep in ((2, len(timings)), (1, len(timings)), (1, 120),
                           (1, 90), (1, 60), (1, 30), (1, 10), (1, 0)):
        line = render(decimals, keep)
        if len(line) <= _LINE_BUDGET:
            return line
    # The ladder exhausted — its last rung was already render(1, 0)
    # and overflowed, so go STRAIGHT to the minimal payload (no error
    # section, no query map: a few counters, ~150 chars) rather than
    # emit a line the driver would truncate into invalid JSON.
    payload = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {},
        "sf": sf,
        "n_queries_omitted": len(timings),
        "n_errors": len(errors),
    }
    if partial:
        payload["partial"] = True
    return json.dumps(payload, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # SIGTERM hedge: if an outer timeout kills the bench mid-run, emit
    # the queries timed SO FAR as a valid (flagged-partial) JSON line —
    # a partial BENCH beats a missing one (the round-2 postmortem class).
    import signal

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    reps_done: dict[str, int] = {}

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        PAYLOAD_CACHE_STATS,
    )

    def _summary_line(partial: bool) -> str:
        n1 = sum(1 for n in timings if reps_done.get(n, 0) < 2)
        fx = (PAYLOAD_CACHE_STATS["hits"], PAYLOAD_CACHE_STATS["misses"])
        return summary_line(
            timings, errors, sf, partial, n_single_rep=n1, fixture_cache=fx
        )

    def _dump_partial(signum, frame):  # noqa: ARG001
        print(_summary_line(partial=True), flush=True)
        sys.exit(0)

    signal.signal(signal.SIGTERM, _dump_partial)

    # JMH-style warm-up: run every query once at smoke scale so the
    # timed pass measures steady-state compute, not one-time
    # whole-stage-codegen compilation, JVM JIT, or parquet footer
    # caching (a fully interleaved warm-per-query variant was measured
    # SLOWER overall: the first timed queries then pay JIT warm-up).
    # Python-worker queries (mapInPandas) additionally get a re-warm
    # immediately before their timed run — workers forked during the
    # up-front loop idle out by the time the timed pass reaches them
    # (measured as 8x noise on q30 without this).
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    python_kernel: set[str] = set()
    for name in HEADLINE:
        # One broken query must never zero the whole bench (round-2
        # postmortem: a single AnalysisException in the warm-up loop
        # left the round with no numbers at all). Record and move on.
        try:
            df = qs[name].build(spark, warm_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if "InPandas" in plan or "ArrowEvalPython" in plan:
                python_kernel.add(name)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"warmup: {type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: WARMUP FAILED {type(exc).__name__}", file=sys.stderr)

    # Best-of-2 timing (round-5): the host is bursty — identical
    # back-to-back full-suite runs measured 30% apart (127 s vs 97 s),
    # with the inflation landing as a uniform +0.3-0.5 s per query.
    # min-of-2 reports the quiet-period number, which is the comparable
    # one. It is not a warm rep: the registry's generated code is far
    # larger than Spark's code cache (session.py), so pass 2 still
    # compiles 2,898 of pass 1's 3,098 classes at sf0.001, and most
    # recorded minimums still include Janino compile time. The budget
    # guard keeps total bench wall bounded: once the clock passes it,
    # remaining queries fall back to single-run rather than risk the
    # run's timeout (a missing BENCH beats a late one).
    # Two PASSES over the suite (round-6 change), not two back-to-back
    # reps per query: with per-query reps, budget exhaustion left every
    # query after the cutoff single-run — a uniform +35-45% inflation on
    # the alphabetical TAIL of the suite (observed r6: q36+ all slower
    # than their r5 numbers while q0x-q2x matched). With a full first
    # pass followed by a second pass while budget remains, degradation
    # is "fewer queries get a second rep", spread evenly, and every
    # recorded number is at worst a single clean run.
    # 560 since round-11: three new ~12 s end-to-end replays pushed a
    # full first pass past 220 s, and a 480 s budget left the slowest
    # 15 queries single-rep — including codec queries whose rep-1
    # number includes the one-time fixture-cache build. The SIGTERM
    # hedge still emits a valid partial line if an outer timeout is
    # tighter than the budget.
    # 680 since round-12: the registry grew 159→166 (three of them
    # streaming replays with fixed per-batch job overhead) while the
    # replay-family overhead cut bought back ~45 s/pass — sized so a
    # full min-of-2 fits on the driver host (local min-of-2 wall:
    # ~240 s/pass at 166 queries; a noisy-host run measured +13%
    # uniform inflation and needed ~40 s more for the slowest tail's
    # second rep, hence 680 not 640) with headroom for the ~1.2×
    # driver host factor observed across rounds.
    # 740 since round-13: registry 166→169. The two stream-stream
    # replays are the heaviest additions (q167 ~12 s, q169 ~10 s warm
    # — two sources, 4+ micro-batches each); q168 adds ~6 s; q160 and
    # q162 give back ~8 s/pass (bounded PQ training, map-only
    # repetition fold). Net ≈ +25 s/pass × 2 passes over the 680
    # sizing, kept at the same noisy-host margins.
    # 810 late round-13: registry 169→171 (q170 streaming-dedup
    # replay ~5 s, q171 DSIR ~1.5 s) — and the 740 sizing measured
    # n1=2 (q145/q147 lost their second rep by ~27 s), so the bump
    # is the new queries' 2 passes plus that measured shortfall with
    # the usual driver-host margin. 830 with q172 (stream-static
    # enrichment replay, ~4 s/pass, two micro-batches).
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "830"))
    bench_t0 = time.perf_counter()

    def timed_run(q) -> float:
        # settle the heap before timing: stray young-gen GCs from the
        # previous query otherwise land inside this query's window
        # (sub-second queries jump 3-4x without this)
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        df = q.build(spark, sf_dir)
        # noop sink: forces full evaluation of every output column
        # (count() alone would let Catalyst prune the projections).
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for rep in range(2):
        # rep-2 walks FASTEST-FIRST (round-10, verdict item 5): budget
        # exhaustion previously left the alphabetical tail single-rep;
        # cheap queries re-run first now, so the same budget buys a
        # second rep for the MOST queries (host noise lands as a
        # roughly uniform absolute bump per query, so coverage count —
        # not which queries — is what shrinks cross-round spread)
        order = HEADLINE if rep == 0 else sorted(
            (n for n in HEADLINE if n in timings), key=lambda n: timings[n]
        )
        for name in order:
            if name in errors:
                continue
            if rep > 0 and time.perf_counter() - bench_t0 > budget:
                print(f"# budget hit before rep {rep + 1} of {name}", file=sys.stderr)
                break
            q = qs[name]
            try:
                if name in python_kernel:
                    # re-warm the Python workers right before EACH timed
                    # run — they idle out between passes (round-2: 8x
                    # noise on q30 without this)
                    q.build(spark, warm_dir).write.format("noop").mode("overwrite").save()
                run = timed_run(q)
            except Exception as exc:  # noqa: BLE001
                # a rep-2 transient after a clean rep-1 measurement is a
                # stderr note, NOT an error entry: timings/errors stay
                # mutually exclusive in the summary (a consumer reads
                # errors-presence as query failure)
                if name in timings:
                    print(
                        f"# {name}: rep{rep + 1} failed after a clean rep1 "
                        f"({type(exc).__name__}) — keeping the rep1 number",
                        file=sys.stderr,
                    )
                    continue
                errors[name] = f"timed: {type(exc).__name__}: {exc}"[:500]
                print(f"# {name}: FAILED {type(exc).__name__}", file=sys.stderr)
                continue
            reps_done[name] = reps_done.get(name, 0) + 1
            if name not in timings or run < timings[name]:
                timings[name] = round(run, 3)
            print(f"# {name} rep{rep + 1}: {run:.3f}s", file=sys.stderr)
    total = sum(timings.values())

    # Disarm the SIGTERM hedge before the normal summary prints — a
    # late signal must not append a second, partial-flagged JSON line
    # after a completed run (a last-line consumer would pick up the
    # duplicate).
    signal.signal(signal.SIGTERM, signal.SIG_DFL)
    # Full-name per-query map for humans — stderr, never the parsed line.
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "policy": "min2",
                "single_rep": sorted(n for n in timings if reps_done.get(n, 0) < 2),
                "fixture_cache": dict(PAYLOAD_CACHE_STATS),
                **({"errors": errors} if errors else {}),
            }
        ),
        file=sys.stderr,
    )
    print(_summary_line(partial=False), flush=True)


if __name__ == "__main__":
    main()
