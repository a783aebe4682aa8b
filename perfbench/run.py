"""Benchmark of the CDC engine, one workload per invocation.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Builds a ``local[nproc]`` Spark session, makes the workload's inputs from
the seed, warms the timed path, measures for ``--seconds`` and checks every
output against an oracle. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run measures plain and then traced, and the metrics are the
per-layer ones (spans and the Spark event log; the spans are also written
to ``.bench_out/``). Earlier lines carry a readable report, ending with
the workload's own end-to-end figures by name and unit (freshness
percentiles, events per second, ``ops_failed_ratio``, ...). Scratch files
live under ``.bench_work/`` and are removed at exit.

Exits with code 2, printing no result, when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    __package__ = "perfbench"

from perfbench.common import ROOT, cores, cpu_times, prepare_env  # noqa: E402

CPU_AT_START = cpu_times()

UNITS = {"setup_s": "s", "latency_p50_s": "s"}


def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def run(args, work: Path) -> dict:
    import threading

    from perfbench import tracing
    from perfbench.common import (
        peak_rss_mb, start_spark, steal_share, stop_spark,
    )
    from perfbench.workloads import WORKLOADS, Outcome

    n = cores()
    event_log = work / "eventlog" if args.trace else None
    # The JVM boots in a thread while this one makes the inputs and the
    # oracle (neither needs Spark).
    boot: dict = {}

    def start():
        t0 = time.perf_counter()
        try:
            boot["spark"] = start_spark(
                work, n, event_log, WORKLOADS[args.workload].SPARK_CONF,
            )
        except BaseException as e:
            boot["error"] = e
        boot["s"] = time.perf_counter() - t0

    booter = threading.Thread(target=start, name="spark-boot")
    booter.start()
    outcome = Outcome()
    w = WORKLOADS[args.workload](None, args.seed, args.seconds, work, outcome)
    t0 = time.perf_counter()
    try:
        w.setup()
    except BaseException:
        booter.join()
        if "spark" in boot:
            stop_spark(boot["spark"])
        raise
    inputs_s = time.perf_counter() - t0
    booter.join()
    if "error" in boot:
        raise boot["error"]
    spark = w.spark = boot["spark"]
    stopped = False
    try:
        t0 = time.perf_counter()
        w.warmup()
        w.prepare("m0")
        setup_s = time.perf_counter() - T_PROCESS
        report = {
            "workload": args.workload, "seed": args.seed, "cores": n,
            "setup_s": setup_s, "session_s": boot["s"],
            "inputs_s": inputs_s, "warmup_s": time.perf_counter() - t0,
        }
        cpu0 = cpu_times()
        phase = w.measure(args.seconds)
        report.update(phase.report)
        report["host_steal_setup"] = steal_share(CPU_AT_START, cpu0)
        report["host_steal_measure"] = steal_share(cpu0, cpu_times())
        rss = peak_rss_mb(spark)
        named = {"setup_s": (setup_s, "s"), **phase.named,
                 "peak_rss_mb": (rss, "MB")}
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_s": phase.latency_p50_s,
            }
        else:
            tracer = tracing.Tracer(spark)
            w.prepare("m1")
            tracer.install()
            try:
                traced = w.measure(args.seconds, tracer)
            finally:
                tracer.uninstall()
            layer = tracing.layer_metrics(tracer)
            layer.update(traced.layer)
            # JIT warm-up still speeds the second phase up a little, so
            # this reads low; a third, plain phase to cancel the drift
            # made a traced run too long
            layer["trace.overhead_ratio"] = (
                traced.latency_p50_s / phase.latency_p50_s - 1.0
            )
            report["traced"] = traced.report
            stop_spark(spark)
            stopped = True
            layer.update(tracing.spark_metrics(
                event_log, traced.window[0], traced.window[1], traced.ops,
            ))
            if args.workload == "backfill":
                layer["baseline.local1_events_per_s"] = local1_baseline(w, work)
            metrics = {k: float(layer.get(k, 0.0)) for k in per_layer_units()}
            # figures of layers that only the hand-run workloads exercise
            report["other_layers"] = {
                k: v for k, v in layer.items() if k not in metrics
            }
            out = ROOT / ".bench_out"
            tracer.dump(
                out / f"trace-{args.workload}-seed{args.seed}.json",
                {**metrics, "report": report},
            )
        report["attempted"] = outcome.attempted
        report["failed"] = outcome.failed
        named["ops_failed_ratio"] = (
            outcome.failed / max(1, outcome.attempted), "ratio")
        for line in json.dumps(report, indent=1, default=str).splitlines():
            log(line)
        for k, (v, unit) in named.items():
            log(f"{args.workload} {k} = {v:.6g} {unit}")
        for p in outcome.problems:
            log(f"FAILED: {p}")
    finally:
        if not stopped:
            stop_spark(spark)
    units = UNITS if not args.trace else per_layer_units()
    return {
        "correct": outcome.correct,
        "attempted": max(1, outcome.attempted),
        "failed": outcome.failed,
        # a run whose operations all failed has no figure to report
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0,
                        "unit": units[k]}
                    for k, v in metrics.items()},
    }


def local1_baseline(w, work: Path) -> float:
    """One backfill replay on ``local[1]``: the single-thread baseline."""
    from perfbench.common import start_spark, stop_spark

    spark = start_spark(work, 1)
    try:
        wall, ok = w.replay_once("local1", spark)
    finally:
        stop_spark(spark)
    if not ok:
        w.outcome.fail("backfill local[1] state != oracle")
    return w.N_EVENTS / wall


def execute(args) -> dict | None:
    """Run one invocation in a fresh scratch directory; None when the
    engine package is missing."""
    if not (ROOT / "etl_bitcoin_spark" / "__init__.py").is_file():
        return None
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    prepare_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    result = execute(args)
    if result is None:
        print(f"perfbench: engine package etl_bitcoin_spark not found in "
              f"{ROOT}", file=sys.stderr)
        return 2
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
