"""Benchmark entry point.

    python3 perfbench/run.py --workload verbs|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a kukur_spark checkout.  Builds the workload's
inputs from ``--seed`` under ``.perfbench_tmp/`` (removed on exit),
starts a local Spark session with one core per CPU, warms up to steady
state (counted in ``setup_s``), then times a closed loop for
``--seconds``.  The last stdout line is the result JSON: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.  The
line before it carries the per-kind detail, the checks' errors and the
host-noise context.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("verbs", "analytics")
# warm-up rounds before timing: past the steep part of the JIT warm-up,
# within the hour a full set of runs may take; see README "Steady state"
WARMUP_ROUNDS = {"verbs": 14, "analytics": 3}


def parse_args(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def start_spark(work: Path):
    from kukur_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata files in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (``/proc/stat``
    steal column), summed over CPUs; 0 where the kernel reports none."""
    try:
        with open("/proc/stat") as stat:
            fields = stat.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def p50_bound() -> float:
    """The regression bound ``BENCHMARK.json`` fixes for ``p50_ms``; a
    kind counts as steady when its first and last quarter agree within
    it."""
    with open(ROOT / "BENCHMARK.json") as spec:
        metrics = json.load(spec)["end_to_end"]
    return next(m["bound"] for m in metrics if m["name"] == "p50_ms")


def named_metrics(workload: str, records, kinds) -> dict:
    """The per-verb / per-workload figures under their README names,
    each with unit and sample count (printed, not gated)."""
    from perfbench.loop import by_kind, wall_ms
    from perfbench.stats import percentile, summary

    grouped = by_kind(records, kinds)
    bound = p50_bound()
    out = {}

    def latency(name, kind, tail=False):
        samples = wall_ms(grouped[kind])
        if not samples:
            return
        s = summary(samples)
        out[f"{name}_p50_ms"] = {"value": s["p50"], "unit": "ms", "n": s["n"],
                                 "drift": s["drift"],
                                 "steady": None if s["drift"] is None else abs(s["drift"]) <= bound}
        if tail:
            # below 200 samples fewer than ten lie beyond p95: printed for
            # the record, too thin to gate on
            out[f"{name}_p95_ms"] = {"value": percentile(samples, 95), "unit": "ms",
                                     "n": s["n"]}

    if workload == "verbs":
        latency("search", "search")
        latency("get_metadata", "get_metadata")
        latency("get_data", "get_data", tail=True)
        latency("get_data_cold", "get_data_cold")
        latency("plot", "get_plot_data", tail=True)
        latency("sql", "sql")
        calls = grouped["export"]
        seconds = sum(r.wall_s for r in calls)
        out["export_mrows_s"] = {
            "value": sum(r.rows for r in calls) / seconds / 1e6, "unit": "Mrows/s",
            "n": len(calls),
        }
        first = [r.first_batch_s * 1000.0 for r in calls if r.first_batch_s is not None]
        out["export_first_batch_ms"] = {
            "value": statistics.median(first), "unit": "ms", "n": len(first)
        }
        latency("export", "export")
    else:
        medians = [statistics.median(wall_ms(g)) for g in grouped.values() if g]
        out["queries_total_s"] = {
            "value": sum(medians) / 1000.0, "unit": "s",
            "n": min(len(g) for g in grouped.values()),
        }
        for kind in kinds:
            latency(f"query.{kind}", kind)
    return out


def run(args, work: Path) -> tuple[dict, dict]:
    from bench import BENCH_QUERIES, cpu_calibration

    from perfbench import analytics, flightload, gen
    from perfbench.loop import (
        Runner, end_to_end, kind_summaries, layer_detail, per_layer,
    )
    from perfbench.trace import Tracer, jvm_peak_rss_mb

    host = {"load_before": os.getloadavg(), "cpu_cal_before_s": cpu_calibration()}
    data_dir = work / "data"
    data_dir.mkdir()
    if args.workload == "analytics":
        paths = gen.analytics_tables(args.seed, str(data_dir))
        expected = analytics.oracle_counts(paths, BENCH_QUERIES)
    else:
        sources = flightload.make_sources(args.seed, str(data_dir))

    setup_start = time.perf_counter()
    spark = start_spark(work)
    shutdown = None
    tracer = Tracer(spark) if args.trace else None
    try:
        if args.workload == "analytics":
            traffic = analytics.QueryTraffic(
                args.seed, spark, str(data_dir), list(BENCH_QUERIES), expected
            )
        else:
            traffic, shutdown = flightload.start(spark, args.seed, sources, tracer)
        runner = Runner(tracer)
        for op in traffic.prime():
            runner.execute(op, traced=False)
        runner.rounds(traffic, count=WARMUP_ROUNDS[args.workload])
        setup_s = time.perf_counter() - setup_start

        gc_before = tracer.gc_ms() if tracer else 0.0
        steal_before = cpu_steal_s()
        records = runner.rounds(traffic, seconds=args.seconds, trace=bool(args.trace))
        host["steal_during_timing_s"] = cpu_steal_s() - steal_before
        kinds = traffic.kinds
        if args.trace:
            metrics = per_layer(records, traffic.gated_kinds)
            metrics["gc_ms"] = {"value": tracer.gc_ms() - gc_before, "unit": "ms"}
            metrics["peak_rss_mb"] = {"value": jvm_peak_rss_mb(spark), "unit": "MiB"}
            detail = {"layers": layer_detail(records, kinds)}
        else:
            metrics = end_to_end(records, traffic.gated_kinds, setup_s)
            detail = {"named": named_metrics(args.workload, records, kinds)}
        detail["kinds"] = kind_summaries(
            [r for r in records if not r.traced], kinds
        )
        detail["setup_s"] = setup_s
        detail["errors"] = runner.errors
        attempted, failed = runner.attempted, runner.failed
    finally:
        if shutdown is not None:
            shutdown()
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
    host["cpu_cal_after_s"] = cpu_calibration()
    host["load_after"] = os.getloadavg()
    host["cpus"] = int(os.environ["SPARK_GRAFT_CPUS"])
    detail["host"] = host
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        import kukur_spark

        if Path(kukur_spark.__file__).resolve().parents[1] != ROOT:
            print(f"perfbench: kukur_spark imported from {kukur_spark.__file__}, "
                  f"not from {ROOT}", file=sys.stderr)
            return 2
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
