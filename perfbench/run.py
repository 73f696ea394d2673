"""Sensor-pipeline benchmark.

    python3 perfbench/run.py --workload sensor_queries --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The workload's inputs are
generated from --seed into a scratch directory inside the checkout
(removed at exit); the program is driven through its public functions
for --seconds of measurement; every result is checked. The last stdout
line is one JSON object {correct, attempted, failed, metrics}: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics from a separate traced pass. The line before it is a
per-workload report with the paper-facing metrics (q1_p50_s, merge_p50_s,
drain_notifs_per_s, ...) and fail_frac. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "sensor_queries": "perfbench.queries",
    "sensor_ingest": "perfbench.ingest",
}


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_pct")) or "_per_" in name:
        return "ratio"
    return "count"


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def per_layer_values(spec: list[dict], tracer, wall_s: float, rss_peak_mb: float) -> dict:
    from perfbench.stats import median

    values = {k: median(v) for k, v in tracer.values.items() if v}
    for name, span in (
        ("session.get_spark_s", "session.get_spark"),
        ("warehouse.load_table_cold_s", "warehouse.load_table_cold"),
        ("warehouse.load_table_warm_s", "warehouse.load_table_warm"),
    ):
        d = tracer.durations(span)
        if d:
            values[name] = median(d)
    values["peak_rss_mb"] = rss_peak_mb
    overhead = tracer.overhead_s()
    values["trace.overhead_s"] = overhead
    values["trace.overhead_frac"] = overhead / wall_s
    # a layer the workload never reaches did zero work
    return {m["name"]: _metric(values.get(m["name"], 0.0), m["unit"]) for m in spec}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[0] = ROOT  # the package and perfbench.*, not perfbench/ itself
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        importlib.import_module("orionld_to_hive_spark")
    except (OSError, ImportError) as e:
        print(f"perfbench: not a source checkout of the program: {e}", file=sys.stderr)
        return 2

    from perfbench.runtime import PROBE_REF_S, Context, configure_environment, cpu_ticks, shutdown
    from perfbench.stats import median
    from perfbench.tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(ROOT, work)
    ctx = Context(work=work, seed=args.seed, seconds=args.seconds, tracer=Tracer(args.trace == 1))
    t0 = time.perf_counter()
    steal0, total0 = cpu_ticks()
    try:
        result = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        wall_s = time.perf_counter() - t0
        steal1, total1 = cpu_ticks()
        ctx.sample_rss()
        with ctx.phase("shutdown"):
            shutdown()
    except Exception:  # noqa: BLE001 - report and exit without a result line
        traceback.print_exc()
        return 1
    finally:
        ctx.tracer.unwrap_all()
        shutdown()
        shutil.rmtree(work, ignore_errors=True)

    gate = ctx.gate
    e2e = {
        "setup_s": median(ctx.setup_s),
        "mix_cpu_s": result["mix_cpu_s"] * PROBE_REF_S / median(ctx.probe_s),
    }
    report = {"setup_s": e2e["setup_s"], "peak_rss_mb": ctx.rss_peak_mb,
              "fail_frac": gate.fail_frac, **result["report"],
              "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
              "setup_wall_s": median(ctx.setup_wall_s),
              "probe_p50_s": median(ctx.probe_s),
              "mix_cpu_unscaled_s": result["mix_cpu_s"],
              "setup_rounds_s": [round(x, 3) for x in ctx.setup_s],
              "setup_rounds_wall_s": [round(x, 3) for x in ctx.setup_wall_s],
              "phases_s": {k: round(v, 3) for k, v in ctx.phases_s.items()}}
    if ctx.tracer.enabled:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_file = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl")
        ctx.tracer.dump(trace_file)
        report["self_s"] = {k: round(v, 6) for k, v in sorted(ctx.tracer.self_times().items())}
        report["trace_file"] = os.path.relpath(trace_file, ROOT)
        metrics = per_layer_values(spec["per_layer"], ctx.tracer, wall_s, ctx.rss_peak_mb)
    else:
        metrics = {m["name"]: _metric(e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "report": {k: (v if isinstance(v, (dict, list, str)) or v is None else _metric(v, _unit(k)))
                   for k, v in report.items()},
    }))
    print(result_line(gate, metrics))
    return 0


def result_line(gate, metrics: dict) -> str:
    """The last stdout line: {correct, attempted, failed, metrics}."""
    return json.dumps({
        "correct": gate.failed == 0 and gate.attempted > 0,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": metrics,
    })


if __name__ == "__main__":
    sys.exit(main())
