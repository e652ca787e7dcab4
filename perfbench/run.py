"""Repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 4 --trace 0

Run from the checkout root (the directory holding
``debezium_incubator_spark/``). The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced run. The line before it holds the workload's own named
metrics and the input digests. Everything written goes under
``.perfbench/`` in the current directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import harness
from inputs import materialize
from spans import Tracer
from workloads import WORKLOADS, Ctx

PER_LAYER_UNITS = {
    "sources.range_s": "s",
    "streaming.trigger_s": "s",
    "streaming.plan_s": "s",
    "streaming.idle_triggers": "count",
    "plans.bootstrap_s": "s",
    "plans.epoch_self_s": "s",
    "plans.epochs": "count",
    "operators.stats_s": "s",
    "operators.merge_self_s": "s",
    "operators.events_in": "count",
    "lake.commit_s": "s",
    "lake.rows_written": "count",
    "lake.bytes_written": "B",
    "lake.files_written": "count",
    "lake.write_amp": "ratio",
    "lake.ckpt_save_s": "s",
    "lake.read_s": "s",
    "lake.cdf_s": "s",
    "views.refresh_s": "s",
    "views.folded_versions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.shuffle_bytes_per_event": "B/event",
    "spark.jobs_per_epoch": "ratio",
    "bench.generator_late_s": "s",
    "bench.cpu_probe_s": "s",
    "bench.trace_overhead_frac": "frac",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="debezium-incubator-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, os.getcwd())
    import debezium_incubator_spark  # noqa: F401 — fail fast outside a checkout

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # the JVM and every Python worker inherit this process's CPU
    # affinity, so local[N] with N = the allotted cores matches them
    ncpu = len(os.sched_getaffinity(0))
    work = os.path.join(harness.STATE_DIR, "work", f"{args.workload}-{os.getpid()}")
    probes = [harness.cpu_probe()]
    try:
        return run(args, ncpu, work, probes)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, ncpu: int, work: str, probes: list[float]) -> int:
    # set-up: session start, input generation and digest check (inside
    # the session, so every run does the same work), then the warm-up
    # (which also builds trickle's starting table and view)
    t = time.perf_counter()
    spark = harness.start_session(ncpu, work)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        inputs = os.path.join(work, "inputs")
        digests = materialize(spark, args.workload, args.seed, inputs, ncpu)
        ctx = Ctx(spark, ncpu, args.seconds, inputs, work)
        wl = WORKLOADS[args.workload](ctx)
        wl.warm_up(ctx)
        warm_s = time.perf_counter() - t

        tracer = stages = None
        if args.trace:
            tracer = Tracer()
            tracer.install()
            stages = harness.StageCounter(spark)
            ctx.window = stages.window
        probes.append(harness.cpu_probe())
        try:
            with harness.PssSampler() as mem:
                t = time.perf_counter()
                res = wl.measure(ctx)
                wall = time.perf_counter() - t
        finally:
            if tracer is not None:
                tracer.uninstall()
        probes.append(harness.cpu_probe())

        layer = None
        if tracer is not None:
            layer = {k: 0.0 for k in PER_LAYER_UNITS}
            layer.update(tracer.layer_metrics())
            layer.update(stages.totals)
            layer.update(res["layer"])
            events = layer["operators.events_in"]
            layer["spark.shuffle_bytes_per_event"] = (
                layer["spark.shuffle_write_bytes"] / events if events else 0.0
            )
            layer["spark.jobs_per_epoch"] = (
                layer["spark.jobs"] / layer["plans.epochs"] if layer["plans.epochs"] else 0.0
            )
            layer["bench.cpu_probe_s"] = harness.median(probes)
            layer["bench.trace_overhead_frac"] = tracer.overhead_s / wall
            tracer.write(
                os.path.join(
                    harness.STATE_DIR, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
                )
            )

        t = time.perf_counter()
        problems = wl.verify(ctx)
        verify_s = time.perf_counter() - t
    finally:
        harness.stop_session(spark)

    for p in problems:
        print(f"correctness: {p}", file=sys.stderr)
    attempted = res["attempted"] + 1  # the correctness check is one more operation
    failed = res["failed"] + (1 if problems else 0)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": digests,
        "session_start_s": session_s,
        "inputs_and_warm_up_s": warm_s,
        "measure_wall_s": wall,
        "verify_s": verify_s,
        "cpu_probe_s": probes,
        "ops_failed_frac": {"value": failed / attempted, "unit": "frac"},
        "peak_rss_mb": {"value": mem.peak / 2**20, "unit": "MB"},
        **{k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()},
    }
    if layer is None:
        metrics = {
            "setup_s": (session_s + warm_s, "s"),
            "peak_rss_mb": (mem.peak / 2**20, "MB"),
            "primary_s": (res["primary_s"], "s"),
            "secondary_s": (res["secondary_s"], "s"),
            "rate_per_s": (res["rate_per_s"], "1/s"),
        }
    else:
        metrics = {k: (layer[k], u) for k, u in PER_LAYER_UNITS.items()}
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
