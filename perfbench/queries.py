"""The ``catalog`` workload over ``catalog.REGISTRY``.

It runs a fixed list of registry entries over the benchmark's own copy
of the sf0.001 test tables (TESTDATA.md). The list and each entry's row
count live in ``data/expected_rows.json``, so the traffic stays the same
when the registry grows. Most entries are cheap, so per-entry overhead
dominates them: plan building, Catalyst and the family caches. The
HEAVY ones weigh the operator kernels; the traced run reports their plan
and execution times one by one. Each entry runs as bench.py runs it: ``fn()``, then
``count()``, then ``release_ephemeral()``. An entry that raises or
returns another row count than the recorded one is failed.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from common import HERE, HostStat, Result, metric, nearest_rank

DATA_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "data", "expected_rows.json")
# The heavy entries, whose plan and execution times the traced run
# reports one by one: dedup, graph, similarity, BPE and the like.
HEAVY = (
    "ann_ivf_kmeans_topk",
    "bpe_segment_stats",
    "corpus_dedup_rate_by_source",
    "latency_pctiles_by_priority",
    "pagerank_copurchase_top20",
    "rfm_customer_segments",
    "session_max_concurrency",
    "trend_theilsen_daily_revenue",
)


def load_expected() -> dict[str, int]:
    """Entry -> row count, for every entry the workload runs. The entries
    run in sorted order for every seed: whichever entry first touches a
    shared family cache pays for building it, and a seeded order moved
    the per-entry p95 by 2.6x between seeds."""
    with open(EXPECTED) as f:
        return json.load(f)


def warm(spark, rep: int) -> None:
    """Set-up warm-up: a parquet read and an Arrow pandas-UDF round trip
    (the JVM and Python-worker start-up every catalog run pays). It reads
    no catalog entry and fills no family cache."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.read.parquet(os.path.join(DATA_DIR, "orders.parquet")).count()
    noop = pandas_udf(lambda s: s, "long")
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 2).repartition(par).select(noop(F.col("id"))).count()


def run(session, tracer) -> Result:
    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY
    from kafka_avro_order_processor_eg_4131_spark.operators import cache as C

    expected = load_expected()
    names = sorted(expected)
    spark = session.start(warm)
    tracer.install(spark)
    sc = spark.sparkContext
    compiles0 = tracer.codegen_compiles() if tracer.enabled else 0

    per_entry: dict[str, tuple[float, float]] = {}
    jobs = stages = tasks = 0
    problems: list[str] = []
    host = HostStat()
    t_start = time.perf_counter()
    for name in names:
        if tracer.enabled:
            tracer.trace_id = name
            sc.setJobGroup(f"perfbench:{name}", name)
        try:
            t0 = time.perf_counter()
            with tracer.span("catalog.plan"):
                df = REGISTRY[name].fn(spark, DATA_DIR)
            t1 = time.perf_counter()
            with tracer.span("catalog.exec"):
                rows = df.count()
            t2 = time.perf_counter()
            if rows == expected[name]:
                per_entry[name] = (t1 - t0, t2 - t1)
            else:
                problems.append(f"{name}: {rows} rows, expected {expected[name]}")
        except Exception as exc:  # one broken entry must not hide the rest
            problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
        finally:
            C.release_ephemeral()
        if tracer.enabled:
            j, s, t = tracer.job_counts(f"perfbench:{name}")
            jobs, stages, tasks = jobs + j, stages + s, tasks + t
    total_s = time.perf_counter() - t_start
    host.stop()
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    failed = len(names) - len(per_entry)
    query_ms = [(a + b) * 1000.0 for a, b in per_entry.values()] or [float("nan")]
    metrics = {
        "setup_s": metric(session.setup_s, "s"),
        "latency_p50_ms": metric(statistics.median(query_ms), "ms"),
        "latency_mean_ms": metric(statistics.fmean(query_ms), "ms"),
        "latency_p95_ms": metric(nearest_rank(query_ms, 0.95), "ms"),
    }
    layers = {}
    if tracer.enabled:
        plan = [a for a, _ in per_entry.values()]
        exe = [b for _, b in per_entry.values()]
        layers.update(session.layer_metrics())
        layers.update(
            {
                "catalog.total_s": metric(total_s, "s"),
                "catalog.plan_s": metric(sum(plan), "s"),
                "catalog.exec_s": metric(sum(exe), "s"),
                "catalog.plan_s_p50": metric(statistics.median(plan), "s"),
                "catalog.exec_s_p50": metric(statistics.median(exe), "s"),
                "catalog.jobs": metric(jobs, "count"),
                "catalog.stages": metric(stages, "count"),
                "catalog.tasks": metric(tasks, "count"),
                "catalog.codegen_compiles": metric(
                    tracer.codegen_compiles() - compiles0, "count"
                ),
                "cache.retained_rdds_end": metric(C.retained_rdd_count(spark), "count"),
            }
        )
        layers.update(tracer.cache_metrics())
        for name in HEAVY:
            a, b = per_entry.get(name, (0.0, 0.0))
            layers[f"heavy.{name}.plan_s"] = metric(a, "s")
            layers[f"heavy.{name}.exec_s"] = metric(b, "s")
    layers.update(
        {
            "host.steal_pct": metric(host.steal_pct, "%"),
            "host.busy_pct": metric(host.busy_pct, "%"),
        }
    )
    notes = {
        "total_s": total_s,
        "entry_s": {n: round(a + b, 3) for n, (a, b) in per_entry.items()},
    }
    return Result(len(names), failed, problems, metrics, layers, notes)
