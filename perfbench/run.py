"""Benchmark of the transcript pipeline: two seeded workloads, end-to-end
metrics from an untraced run, per-layer metrics from a traced run.

    python3 perfbench/run.py --workload pipeline_bulk --seed 1 --seconds 10 --trace 0

Workloads: pipeline_bulk and job_tablelog (perfbench/workloads.py); a
traced run measures every layer (perfbench/layers.py), the headline
registry queries included. Run from the root of a checkout; everything the
run writes goes under .perfbench/ there. The last line of stdout is one
JSON object {correct, attempted, failed, metrics}; the line before it
carries the host facts, and the full record (spans included, when traced)
is written to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# before anything caches the temp dir: the package zips itself into it
os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
sys.path.insert(0, ROOT)

# fails fast outside a full checkout, before anything is started
import blogparser_spark  # noqa: E402,F401

WORKLOAD_NAMES = ("pipeline_bulk", "job_tablelog")


def units(section: str) -> dict[str, str]:
    """Metric name → unit for one section of BENCHMARK.json, the single
    list of the metrics a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(times: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it, when that
    percentile is at least the median; recorded beside the metrics."""
    n = len(times)
    if n < 20:
        return None
    k = n - 10  # samples at or below the percentile
    return {"value": sorted(times)[k - 1], "percentile": 100 * k / n, "samples": n}


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench import host, layers
    from perfbench.spans import NO_SPANS, Spans
    from perfbench.workloads import WORKLOADS, Ctx, closed_loop

    work = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    facts = host.facts()
    traced = bool(args.trace)
    spans = Spans(args.workload) if traced else NO_SPANS

    host.adopt_orphans()
    t0 = time.perf_counter()
    spark = None
    detail = {}
    try:
        spark = host.start_spark(work)
        ctx = Ctx(spark, work, args.seed, spans)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        if traced:
            metrics = layers.traced_run(ctx, wl, facts)
        else:
            if hasattr(wl, "run_job"):
                wl.run_job(ctx)
            times = closed_loop(lambda i: wl.op(ctx, i), args.seconds, wl.min_ops, ctx)
            rss_kb = host.python_peak_rss_kb()
            rss = sum(rss_kb.values()) / 1024
            wl.check(ctx)
            metrics = {"setup_s": setup_s, **wl.metrics(times), "python_peak_rss_mb": rss}
            detail = {"op_times": times, "op_s_tail": tail(times), "python_peak_rss_kb": rss_kb}
    finally:
        # on every way out: the JVM first, then whatever else is left
        host.stop_spark(spark)
        host.reap_children()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)

    unit = units("per_layer" if traced else "end_to_end")
    if set(metrics) != set(unit):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(unit)}")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": facts, "problems": ctx.problems, "metrics": metrics, **detail,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results_dir, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if traced:
        spans.write(os.path.join(results_dir, f"{name}-spans.json"))
    print("host " + json.dumps(facts))
    for p in ctx.problems:
        print(f"FAILED: {p}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
