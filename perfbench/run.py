"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload schema_plan --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run: it records spans around every
call into the program, writes them to ``.perfbench_work/traces/`` and
reports the per-layer metrics. Either way the last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``, and a
fuller record (environment, set-up breakdown, extras) is written to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    ROOT,
    WORK_ROOT,
    emit_result,
    environment_record,
    log,
    make_workdir,
    median,
    metric,
    pin_environment,
    process_start_epoch,
)

T_PROCESS = process_start_epoch()

WORKLOADS = ("schema_plan", "cdc_lifecycle", "curation")

#: Every per-layer metric, with its unit. Each workload reports all of
#: them; a layer a workload never calls reads 0. The ``run.*`` entries are
#: the traced run's whole-run measurements that are not end-to-end metrics
#: because they do not repeat within any allowed bound on a shared host.
PER_LAYER = {
    "run.items_per_s": "1/s", "run.items_per_norm_cpu_s": "1/s", "run.call_p50_ms": "ms",
    "run.setup_wall_s": "s",
    "serializer.ms": "ms", "serializer.fields": "count", "diff.ms": "ms",
    "diff.changes": "count", "evolution.ms": "ms", "evolution.ops": "count",
    "executor.ms": "ms", "executor.statements": "count", "render.ms": "ms",
    "plan.call_p90_ms": "ms",
    "sink.batch_ms": "ms", "sink.rows": "count", "sink.jobs": "count",
    "sink.driver_ms": "ms",
    "snapshots.versions_ms": "ms", "snapshots.log_entries": "count",
    "snapshots.evolve_ms": "ms", "snapshots.evolve_data_bytes": "bytes",
    "snapshots.maintain_ms": "ms",
    "snapshots.rewritten_bytes": "bytes", "snapshots.expire_ms": "ms",
    "snapshots.reclaimed_bytes": "bytes", "snapshots.read_ms": "ms",
    "snapshots.delete_files": "count",
    "snapshots.plan_scan_ms": "ms", "snapshots.files_planned_frac": "ratio",
    "snapshots.pruned_read_ms": "ms", "snapshots.travel_ms": "ms",
    "snapshots.changes_ms": "ms", "snapshots.bytes_written": "bytes",
    "snapshots.files_written": "count", "snapshots.bytes_per_user_byte": "ratio",
    "text.stats_ms": "ms", "text.boilerplate_ms": "ms", "text.prune_ms": "ms",
    "dedup.minhash_ms": "ms", "dedup.pairs": "count", "graph.components_ms": "ms",
    "dedup.exact_ms": "ms", "dedup.embedding_ms": "ms", "curation.kept_frac": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


def _module(workload: str):
    if workload == "schema_plan":
        from perfbench import schema_plan as mod
    elif workload == "cdc_lifecycle":
        from perfbench import cdc_lifecycle as mod
    else:
        from perfbench import curation as mod
    return mod


def measured(res: dict) -> dict:
    """Everything a run measures about the whole workload. The untraced
    run prints the end-to-end subset (``END_TO_END``); its record keeps
    all of it.

    ``setup_s`` is the CPU time of the process tree (see ``tree_cpu_s``)
    from process start to the first timed call, scaled by the run's
    ``HostSpeed`` factor; ``setup_cpu_s`` and ``setup_wall_s`` are the same
    span in CPU and wall time as measured. ``items_per_norm_cpu_s`` scales
    the timed phase's CPU time the same way."""
    f = res["host"].factor()
    return {
        "setup_s": metric(res["setup_cpu_s"] * f, "s"),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
        "items_per_s": metric(res["items"] / res["elapsed_s"], "1/s"),
        "call_p50_ms": metric(median(res["latencies_ms"]), "ms"),
        "items_per_cpu_s": metric(res["items"] / res["cpu_s"], "1/s"),
        "items_per_norm_cpu_s": metric(res["items"] / (res["cpu_s"] * f), "1/s"),
        "setup_cpu_s": metric(res["setup_cpu_s"], "s"),
        "setup_wall_s": metric(res["setup_wall_s"], "s"),
        "host_factor": metric(f, "ratio"),
    }


END_TO_END = ("setup_s", "items_per_norm_cpu_s", "peak_rss_mb")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # Fail here, with no result line, unless the program comes from the
    # checkout being measured.
    import iceberg_evolve_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(iceberg_evolve_spark.__file__))) != ROOT:
        raise SystemExit(f"iceberg_evolve_spark imported from outside {ROOT}")
    args.workdir = make_workdir(args.workload, args.seed, bool(args.trace))
    pinned = pin_environment(args.workdir)

    from perfbench.trace import NullTracer, Tracer

    mod = _module(args.workload)
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    tr = Tracer(run_id) if args.trace else NullTracer()
    try:
        res = mod.run(args, tr, T_PROCESS)
    finally:
        shutil.rmtree(args.workdir, ignore_errors=True)

    whole = measured(res)
    if args.trace:
        metrics = {name: metric(0.0, unit) for name, unit in PER_LAYER.items()}
        metrics.update(mod.layer_metrics(tr, res))
        for name in ("items_per_s", "items_per_norm_cpu_s", "call_p50_ms", "setup_wall_s"):
            metrics[f"run.{name}"] = whole[name]
    else:
        metrics = {name: whole[name] for name in END_TO_END}
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "environment": environment_record(args.seed, pinned),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "calls": len(res["latencies_ms"]),
        "latencies_ms": res["latencies_ms"],
        "host_samples_ms": [c * 1000.0 for c in res["host"].cpu],
        "measured": whole,
        "metrics": metrics,
        "extra": res["extra"],
    }
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(WORK_ROOT, "results", stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tr.write(os.path.join(WORK_ROOT, "traces", stem + ".json"), {"workload": args.workload})
    log(
        f"{args.workload} seed={args.seed} calls={record['calls']} "
        f"attempted={res['attempted']} failed={res['failed']} extra="
        + json.dumps({k: v for k, v in res["extra"].items() if not isinstance(v, list) or len(v) < 8})
    )
    emit_result(res["failed"] == 0, res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
