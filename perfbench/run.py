"""Benchmark of the order-stream engine over the package's public
functions, one result line per run.

    python3 perfbench/run.py --workload stream_paced --seed 1 --seconds 10 --trace 0

Workloads: ``stream_paced`` (streams.py) and ``catalog`` (queries.py).
The seed draws the stream's orders; the catalog reads fixed tables in a
fixed order.

Run it from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same workload with spans around the calls
into each layer and reports the per-layer metrics (see BENCHMARK.json).
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the exit code is non-zero when
an output check fails or the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import common
import queries

WORKLOADS = ("stream_paced", "catalog")

# name -> (unit, better); reported with --trace 0. A latency is a file's
# (stream) or an entry's (catalog). The median and p95 are measured too
# but only printed on stderr and in the traced run: the catalog's median
# falls among sub-second entries and its spread (IQR/median) reached
# 0.41 over five runs (the mean's stayed under 0.09 over ten), and its
# entries put too few samples beyond p95.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_mean_ms": ("ms", "lower"),
}
# name -> (unit, better); reported with --trace 1. A layer the workload
# does not run reports 0.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "session.get_spark_cold_s": ("s", "lower"),
    "shipping.ship_package_s": ("s", "lower"),
    "setup.warm_s": ("s", "lower"),
    "setup.cold_s": ("s", "lower"),
    "pipeline.batches": ("count", "lower"),
    "pipeline.rows_per_batch_p50": ("rows", "higher"),
    "pipeline.trigger_ms_p50": ("ms", "lower"),
    "pipeline.trigger_ms_p95": ("ms", "lower"),
    "pipeline.add_batch_ms_p50": ("ms", "lower"),
    "pipeline.add_batch_ms_p95": ("ms", "lower"),
    "pipeline.wal_commit_ms_p50": ("ms", "lower"),
    "pipeline.commit_offsets_ms_p50": ("ms", "lower"),
    "pipeline.query_planning_ms_p50": ("ms", "lower"),
    "pipeline.latest_offset_ms_p50": ("ms", "lower"),
    "pipeline.get_batch_ms_p50": ("ms", "lower"),
    "pipeline.process_batch_ms_p50": ("ms", "lower"),
    "pipeline.sink_write_ms_p50": ("ms", "lower"),
    "pipeline.sink_write_ms_max": ("ms", "lower"),
    "pipeline.jobs_per_batch": ("count", "lower"),
    "avro_ocf.decode_us_per_row": ("us", "lower"),
    "routing.success_rows": ("count", "higher"),
    "routing.transient_rows": ("count", "higher"),
    "routing.permanent_rows": ("count", "higher"),
    "retry.calls": ("count", "lower"),
    "retry.retries": ("count", "lower"),
    "catalog.total_s": ("s", "lower"),
    "catalog.plan_s": ("s", "lower"),
    "catalog.exec_s": ("s", "lower"),
    "catalog.plan_s_p50": ("s", "lower"),
    "catalog.exec_s_p50": ("s", "lower"),
    "catalog.jobs": ("count", "lower"),
    "catalog.stages": ("count", "lower"),
    "catalog.tasks": ("count", "lower"),
    "catalog.codegen_compiles": ("count", "lower"),
    "cache.family_builds": ("count", "lower"),
    "cache.family_hits": ("count", "higher"),
    "cache.family_hit_ratio": ("ratio", "higher"),
    "cache.family_build_self_s": ("s", "lower"),
    "cache.memo_builds": ("count", "lower"),
    "cache.memo_hits": ("count", "higher"),
    "cache.memo_build_self_s": ("s", "lower"),
    "cache.retained_rdds_end": ("count", "lower"),
    "generator.late_ms_max": ("ms", "lower"),
    "generator.prepare_s": ("s", "lower"),
    "host.steal_pct": ("%", "lower"),
    "host.busy_pct": ("%", "higher"),
    "traced.latency_p50_ms": ("ms", "lower"),
    "traced.latency_mean_ms": ("ms", "lower"),
    "traced.latency_p95_ms": ("ms", "lower"),
    **{
        f"heavy.{name}.{part}_s": ("s", "lower")
        for name in queries.HEAVY
        for part in ("plan", "exec")
    },
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_wall = time.perf_counter()
    common.adopt_orphans()
    # a SIGTERM unwinds through the finally below, which stops every
    # process the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, t_wall)
    finally:
        left = common.stop_children()
        if left:
            print(f"stopped left-over processes: {left}", file=sys.stderr)


def _run(args, t_wall: float) -> int:
    if common.ROOT not in sys.path:
        sys.path.insert(0, common.ROOT)
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    # Fails here, before any work, when the package is not in the checkout.
    import kafka_avro_order_processor_eg_4131_spark  # noqa: F401
    import streams
    import tracing

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    run_dir = common.prepare_dirs(run_id)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    session = common.Session()
    try:
        if args.workload == "stream_paced":
            res = streams.run_paced(session, args.seed, args.seconds, run_dir, tracer)
        else:
            res = queries.run(session, tracer)
        tracer.write(os.path.join(common.WORK, "traces", f"{run_id}.json"))
    finally:
        session.close()
        common.cleanup(run_dir)

    for p in res.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "error_rate": res.failed / res.attempted,
        "wall_s": time.perf_counter() - t_wall,
        "latency_p50_ms": res.metrics["latency_p50_ms"]["value"],
        "latency_p95_ms": res.metrics["latency_p95_ms"]["value"],
        "setup_reps_s": session.setup_times,
        **res.notes,
        **{k: v["value"] for k, v in res.layers.items() if k.startswith(("host.", "generator."))},
    }
    print(json.dumps(summary), file=sys.stderr)
    if args.trace:
        # the traced run's own end-to-end numbers; minus the untraced
        # run's they give the tracing overhead
        for k in ("latency_p50_ms", "latency_mean_ms", "latency_p95_ms"):
            res.layers[f"traced.{k}"] = res.metrics[k]
        for k, (unit, _) in PER_LAYER.items():
            res.layers.setdefault(k, common.metric(0, unit))
    res.metrics = {k: res.metrics[k] for k in END_TO_END}
    print(res.line(bool(args.trace)))
    return 1 if res.problems else 0


if __name__ == "__main__":
    sys.exit(main())
