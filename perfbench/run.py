"""Benchmark of the restaurant warehouse: one product day and one
streamed backlog, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload product_day --seed 1 --seconds 20 --trace 0

One process, one Spark session on ``local[<cores>]``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A human-readable report,
with the sample count behind every percentile, goes to standard error;
a traced run also writes its spans to ``perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_data_pipeline_for_restaurant_analytics_spark"
WORKLOADS = ("product_day", "stream_drain")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure(work: str) -> dict[str, str]:
    """Point every scratch location of Spark and Python into ``work``
    and size the session; returns the extra Spark conf."""
    for d in ("tmp", "local", "jtmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM started (the launcher and the driver) keeps its temp
    # files in the work dir and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the driver heap committed in full from the start, so the
        # resident high-water mark does not follow the collector's
        # resize choices
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }


def peak_rss_mb(spark) -> float:
    """Driver JVM plus Python high-water resident set, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def drain_listener_bus(spark) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - best effort; the counts are read after
        time.sleep(2)


def stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def report(name: str, wl, values: dict, defs: dict, extra: dict) -> None:
    err = sys.stderr
    print(f"# perfbench {name} seed={wl.seed}", file=err)
    for n, v in values.items():
        print(f"#   {n:40s} {v:14.4f} {defs[n][0]}", file=err)
    for n, v in extra.items():
        print(f"#   {n:40s} {v}", file=err)
    for cname, ok, detail in wl.checks.results:
        print(f"#   check {cname:32s} {'ok' if ok else 'FAILED'} {detail}", file=err)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "datagen.py")
    ):
        print(f"perfbench: {PACKAGE}/ and tools/datagen.py must sit next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    conf = configure(work)

    import metrics
    import spans as sp
    from workloads import Workload, median, settle

    from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark

    spark = None
    try:
        wl = Workload(args.workload, None, work, args.seed)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        session_s = time.perf_counter() - t
        wl.warm_up()
        settle(spark)
        setup_s = time.perf_counter() - t

        tracer = undo = None
        if args.trace:
            tracer = sp.Tracer(spark)
            wl.tr = tracer
            undo = sp.install(tracer)
        measured_s = wl.run(args.seconds)
        if undo is not None:
            sp.uninstall(undo)
        wl.finish_checks()
        raw = wl.raw()
        raw["setup_s"] = setup_s
        raw["peak_rss_mb"] = peak_rss_mb(spark)
        if tracer is not None:
            raw["trace_overhead_s"] = tracer.wrapper_s
            drain_listener_bus(spark)
            tracer.count_jobs()
            out_dir = os.path.join(ROOT, "perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            # every timed cycle loads the same source files again
            values = metrics.layer_values(
                tracer.spans, raw, wl.source_bytes * len(wl.cycle_s))
            defs = metrics.PER_LAYER
        else:
            values = metrics.e2e_values(raw)
            defs = metrics.E2E
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    failed = wl.errors + wl.checks.failed
    attempted = wl.attempted + len(wl.checks.results)
    kpis = metrics.kpi_latencies(raw["kpi_ms"])
    extra = {
        "input_generation_s": round(gen_s, 4),
        "session_start_s": round(session_s, 4),
        "measured_s": round(measured_s, 4),
        "cycles": len(wl.cycle_s),
        "cycle_s": [round(x, 3) for x in wl.cycle_s],
        "day1_load_s": [round(x, 3) for x in wl.day1_s],
        "delta_load_s": [round(x, 3) for x in wl.delta_s],
        "kpi_pass_s": [round(x, 3) for x in wl.kpi_pass_s],
        "kpi_builders": len(kpis),
        "kpi_samples_per_builder": len(wl.kpi_pass_s),
        # over the builders' mean latencies, one sample per builder
        "kpi_p50_ms": round(metrics.percentile(kpis, 50), 1),
        "kpi_p75_ms": round(metrics.percentile(kpis, 75), 1),
        "kpi_p90_ms": round(metrics.percentile(kpis, 90), 1),
        # over every data micro-batch of the run
        "micro_batches": len(raw["batch_ms"]),
        "stream_batch_p50_ms": round(median(raw["batch_ms"]), 1),
        "stream_batch_p75_ms": round(metrics.percentile(raw["batch_ms"], 75), 1),
        "stream_rows_per_s": round(
            raw["stream_rows"] / (sum(raw["batch_ms"]) / 1000), 1) if raw["batch_ms"] else 0,
        "source_rows": wl.source_rows,
        "failed_frac": round(failed / max(attempted, 1), 4),
        "star_digest": wl.digests[:1],
        "kpi_hash": wl.kpi_hashes[:1],
    }
    report(args.workload, wl, values, defs, extra)
    out = metrics.result(failed == 0, attempted, failed, values, defs)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
