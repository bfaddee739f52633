#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the engine's public functions, checks every
result, and prints as its last stdout line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer metrics, and the spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``. Definitions and the
per-layer -> end-to-end mapping are in ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from common import WORK, PeakRss, Spans, configure_env, cpu_count  # noqa: E402

WORKLOADS = ("stream_backfill", "catalog_serving")

E2E_UNITS = {
    "setup_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
    "pass_s": "s",
}


def _stream_layers() -> dict[str, str]:
    from streams import QUERY_NAMES

    units = {
        "stream.events_per_s": "1/s",
        "sources.input_rows": "count",
        "parse.rows_per_event": "ratio",
        "state.rows_total": "count",
        "state.memory_mb": "MB",
        "state.commit_ms": "ms",
        "state.rows_dropped_by_watermark": "count",
        "trigger.count": "count",
        "trigger.exec_ms_p50": "ms",
        "trigger.planning_ms": "ms",
        "trigger.wal_commit_ms": "ms",
        "trigger.commit_offsets_ms": "ms",
        "trigger.overhead_share": "ratio",
        "pipeline.mapper_ms": "ms",
        "pipeline.mapper_calls": "count",
        "pipeline.season_score_ms": "ms",
        "pipeline.season_score_calls": "count",
        "pipeline.season_score_skipped": "count",
        "sinks.push_ms": "ms",
        "sinks.push_calls": "count",
        "sinks.gauges": "count",
        "baseline.warm_events_per_s": "1/s",
        "baseline.local1_events_per_s": "1/s",
    }
    units.update({f"query.{q}.drain_s": "s" for q in QUERY_NAMES})
    return units


def _catalog_layers() -> dict[str, str]:
    from catalog import MODULES, entries

    units = {f"plans.{m}_s": "s" for m in MODULES}
    units.update({"setup.oracle_s": "s", "catalog.entries_per_s": "1/s",
                  "catalog.build_s": "s",
                  "catalog.execute_s": "s", "catalog.spark_jobs": "count"})
    units.update({f"query.{n}_s": "s" for n, _ in entries()})
    return units


def layer_units() -> dict[str, str]:
    """Every per-layer metric; a workload reports 0 for layers it does
    not run (catalog layers on the stream workloads and the reverse)."""
    units = {"session.cpus": "count", "session.cold_start_s": "s",
             "session.start_s": "s", "setup.inputs_s": "s", "pass.cpu_s": "s", "pass.latency_p50_s": "s",
             "pass.latency_p75_s": "s", "error_rate": "ratio", "trace.spans": "count"}
    units.update(_stream_layers())
    units.update(_catalog_layers())
    return units


def shrink() -> None:
    """Tiny input sizes for the self-checks (``--tiny``)."""
    import catalog
    import streams

    streams.BACKFILL_DAYS, streams.BACKFILL_PER_DAY = 40, 10
    catalog.N_CUSTOMERS = 60


def stop_spark() -> None:
    """Stop the session and end the JVM it runs in, waiting for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(workload: str, seed: int, trace: bool, corrupt: bool) -> dict:
    cpus = cpu_count()
    spans = Spans(trace)
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env(cpus)
    if workload == "catalog_serving":
        from catalog import run_catalog as fn
    else:
        from streams import run_backfill as fn
    with PeakRss() as rss:
        res = fn(seed, cpus, spans, corrupt=corrupt)
    if trace and "after_trace" in res:
        res["layers"].update(res["after_trace"]())
    stop_spark()
    failed = min(res["failed"], res["attempted"])
    e2e = dict(res["e2e"])
    e2e["success_rate"] = 1.0 - failed / res["attempted"]
    e2e["peak_rss_mb"] = rss.peak_mb
    for m in res["messages"][:20]:
        print(f"[check] {m}", file=sys.stderr)
    print(f"[perfbench] workload={workload} seed={seed} cpus={cpus} "
          f"attempted={res['attempted']} failed={failed} {json.dumps(res['info'])}")
    if trace:
        spans.write(os.path.join(WORK, f"spans-{workload}-{seed}.jsonl"))
        layers = {name: 0.0 for name in layer_units()}
        layers.update(res["layers"])
        layers["session.cpus"] = float(cpus)
        layers["error_rate"] = failed / res["attempted"]
        layers["trace.spans"] = float(len(spans.records))
        metrics = {n: {"value": float(layers[n]), "unit": u}
                   for n, u in layer_units().items()}
        # Traced end-to-end figures go to stdout (not the result line) so
        # tracing overhead = traced minus untraced can be computed.
        print("[perfbench] traced " + json.dumps({k: e2e[k] for k in E2E_UNITS}))
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    return {"correct": failed == 0, "attempted": int(res["attempted"]),
            "failed": int(failed), "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Self-check hooks: damage one result before the correctness check;
    # run at a tiny input size.
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    try:
        import travelpulse_spark_stream_tourism_analytics_spark  # noqa: F401
    except ImportError:
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    t0 = time.time()
    if args.tiny:
        shrink()
    result = run(args.workload, args.seed, bool(args.trace), args.corrupt)
    print(f"[perfbench] wall_s={time.time() - t0:.1f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
