"""The ``stream_paced`` workload over ``streaming.pipeline.run_order_pipeline``.

It is an open loop: a generator thread renames pre-encoded envelope
files into the watched input dir on a fixed schedule that never waits
for the pipeline, and each file's latency runs from its due time to the
commit of the micro-batch that read it.

Orders follow the reference producer (price Uniform(5.0, 1500.0) at
2 dp, a UUID orderId, a two-word product) plus a stated share of the
routing-band boundary prices and of corrupt payloads. Every input offset
has an expected route, computed here from the routing rule as written
in FIXTURES.md, and the sinks are checked against it after the run.
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import struct
import threading
import time
import uuid

from common import ROOT, HostStat, Result, metric, nearest_rank, tail_ok

# stream_paced: one file every 50 ms, 125 orders each = 2.5k orders/s, so
# the fixed per-batch cost sets the latency. At 10k and 5k orders/s the
# per-row work fed back into the batch size, and a few percent of host
# CPU steal moved the latency by up to 80%. Files due in the first
# LEAD_IN_S seconds let the running query reach its steady batch size and
# the JIT warm up (batches still got twice as fast over the first 8 s);
# they are checked but not timed.
PACED_FILES_PER_S = 20
PACED_ROWS_PER_FILE = 125
LEAD_IN_S = 8.0
# Files not committed this long after the last file was due are failed.
DRAIN_WINDOW_S = 30.0
# The set-up warm-up drains one small file through the pipeline.
WARM_ROWS = 200
# Input encoding runs on this many spawned processes before timing.
ENCODE_WORKERS = 3

BOUNDARY_PRICES = (5.0, 50.0, 1000.0, 1000.01)
BOUNDARY_SHARE = 0.02
CORRUPT_SHARE = 0.005

SUCCESS, TRANSIENT, PERMANENT = "success", "transient", "permanent"
DLQ_HEADERS = {
    "error_reason",
    "original_topic",
    "original_partition",
    "original_offset",
    "timestamp",
}

_WORDS = (
    "Amber Basic Cobalt Delta Ember Fancy Gentle Hyper Ivory Jolly Keen Lunar "
    "Mighty Noble Opal Prime Quiet Rapid Solid Turbo Anchor Bottle Candle "
    "Drawer Engine Fabric Garden Hammer Island Jacket Kettle Ladder Mirror"
).split()


def float32(x: float) -> float:
    """The float32 value Avro carries, widened back to a Python float."""
    return struct.unpack("<f", struct.pack("<f", x))[0]


def expected_route(price: float | None) -> str:
    """FIXTURES.md section 1, on the float32 price the decoder sees:
    a missing price is permanent, [5.0, 50.0] is transient, above 1000.0
    is permanent, anything else is success."""
    if price is None:
        return PERMANENT
    if 5.0 <= price <= 50.0:
        return TRANSIENT
    if price > 1000.0:
        return PERMANENT
    return SUCCESS


class Orders:
    """Orders drawn from one seed. ``route[offset]`` is the expected route
    and ``price[offset]`` the float32 price (None for corrupt payloads)."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.route: dict[int, str] = {}
        self.price: dict[int, float | None] = {}
        self.next_offset = 0

    def draw(self, n: int) -> list[tuple[int, str, str, float, bool]]:
        """n orders as (offset, orderId, product, price, corrupt)."""
        rng = self.rng
        rows = []
        for _ in range(n):
            off = self.next_offset
            self.next_offset += 1
            order_id = str(uuid.UUID(int=rng.getrandbits(128), version=4))
            u = rng.random()
            if u < BOUNDARY_SHARE:
                price = rng.choice(BOUNDARY_PRICES)
            else:
                price = round(rng.uniform(5.0, 1500.0), 2)
            product = f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}"
            corrupt = BOUNDARY_SHARE <= u < BOUNDARY_SHARE + CORRUPT_SHARE
            self.price[off] = None if corrupt else float32(price)
            self.route[off] = expected_route(self.price[off])
            rows.append((off, order_id, product, price, corrupt))
        return rows


def encode_file(path: str, rows) -> None:
    """Encode orders with the package's OCF encoder, one container per
    order as the reference producer sends them, and write one envelope
    parquet file. Corrupt orders get a truncated container or foreign
    bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import (
        ocf_encode,
    )
    from kafka_avro_order_processor_eg_4131_spark.schemas import ORDER_AVRO_SCHEMA

    values = []
    for off, order_id, product, price, corrupt in rows:
        rec = {"orderId": order_id, "product": product, "price": price}
        value = ocf_encode(ORDER_AVRO_SCHEMA, [rec])
        if corrupt:
            value = value[:-10] if off % 2 else b"not-avro:" + value[4:40]
        values.append(value)
    table = pa.table(
        {
            "key": pa.array([r[1].encode("utf-8") for r in rows], pa.binary()),
            "value": pa.array(values, pa.binary()),
            "topic": pa.array(["orders"] * len(rows), pa.string()),
            "partition": pa.array([0] * len(rows), pa.int32()),
            "offset": pa.array([r[0] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, path)


def _init_worker(root: str) -> None:
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)


def write_inputs(orders: Orders, out_dir: str, n_files: int, rows_per_file: int):
    """Draw and encode ``n_files`` envelope files into ``out_dir`` on a
    small spawn pool; returns (file names, offsets written)."""
    import multiprocessing

    first = orders.next_offset
    names = [f"part-{i:05d}.parquet" for i in range(n_files)]
    jobs = [(os.path.join(out_dir, n), orders.draw(rows_per_file)) for n in names]
    ctx = multiprocessing.get_context("spawn")
    workers = max(1, min(ENCODE_WORKERS, n_files, len(os.sched_getaffinity(0))))
    with ctx.Pool(workers, initializer=_init_worker, initargs=(ROOT,)) as pool:
        pool.starmap(encode_file, jobs)
    return names, set(range(first, orders.next_offset))


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> batchId, from EVERY file of the source log.
    FileStreamSource compacts its log every 10 batches into N.compact;
    the entries keep their own batchId, so numbered and compacted files
    together cover every batch."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(path)
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # line 0 is the log version
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """batchId -> wall-clock time its commit-log entry was written."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime_ns / 1e9
    return out


def _read_sink(work_dir: str, sink: str, columns: list[str]) -> dict:
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(work_dir, sink, "*.parquet")))
    if not files:
        return {c: [] for c in columns}
    return pq.ParquetDataset(files).read(columns=columns).to_pydict()


def _dlq_offsets(work_dir: str, problems: list[str]) -> list[int]:
    out = []
    for headers in _read_sink(work_dir, "dlq", ["headers"])["headers"]:
        h = {x["key"]: x["value"] for x in headers}
        if set(h) != DLQ_HEADERS:
            problems.append(f"dlq row headers {sorted(h)}")
        else:
            out.append(int(h["original_offset"].decode()))
    return out


def check_sinks(work_dir: str, orders: Orders, offsets: set[int]) -> list[str]:
    """Problems with the sinks for the input ``offsets``: each offset in
    exactly one of success/DLQ/retry and in the one its route names, the
    five DLQ headers on every DLQ row, and the aggregate rows summing to
    the success count and float32-widened price sum."""
    problems: list[str] = []
    sinks = {
        "success": (SUCCESS, _read_sink(work_dir, "success", ["offset"])["offset"]),
        "dlq": (PERMANENT, _dlq_offsets(work_dir, problems)),
        "retry": (TRANSIENT, _read_sink(work_dir, "retry", ["offset"])["offset"]),
    }
    seen: dict[int, str] = {}
    for sink, (route, sink_offsets) in sinks.items():
        for off in sink_offsets:
            if off in seen:
                problems.append(f"offset {off} in {seen[off]} and {sink}")
            seen[off] = sink
            if orders.route.get(off) != route:
                problems.append(f"offset {off} routed to {sink}")
    missing = offsets - set(seen)
    if missing:
        problems.append(f"{len(missing)} offsets in no sink")
    if set(seen) - offsets:
        problems.append(f"{len(set(seen) - offsets)} unexpected offsets")
    agg = _read_sink(work_dir, "agg", ["order_count", "total_price"])
    success = [o for o in offsets if orders.route[o] == SUCCESS]
    want_sum = sum(orders.price[o] for o in success)
    got_count = sum(agg["order_count"])
    got_sum = sum(x for x in agg["total_price"] if x is not None)
    if got_count != len(success):
        problems.append(f"agg order_count {got_count} != {len(success)}")
    if abs(got_sum - want_sum) > 1e-9 * max(abs(want_sum), 1.0):
        problems.append(f"agg total_price {got_sum!r} != {want_sum!r}")
    return problems[:20]


def check_routing_counts(layers: dict, orders: Orders, offsets: set[int]) -> list[str]:
    """The observed routing counts must equal the expected routes."""
    want = {SUCCESS: 0, TRANSIENT: 0, PERMANENT: 0}
    for off in offsets:
        want[orders.route[off]] += 1
    return [
        f"observed {r} rows {layers[f'routing.{r}_rows']['value']} != {n}"
        for r, n in want.items()
        if layers[f"routing.{r}_rows"]["value"] != n
    ]


class _Progress:
    """Collects every StreamingQueryProgress as a dict."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Impl(StreamingQueryListener):
            def __init__(self) -> None:
                self.lock = threading.Lock()
                self.events: list[dict] = []

            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = json.loads(event.progress.json)
                with self.lock:
                    self.events.append(p)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

            def batches(self) -> list[dict]:
                with self.lock:
                    return [p for p in self.events if p.get("numInputRows", 0) > 0]

        return _Impl()


def _wait_for_progress(spark, tap, n_batches: int) -> None:
    """Progress events arrive on an asynchronous bus: wait (briefly) for
    one per committed batch, then detach the listener."""
    give_up = time.time() + 5.0
    while len(tap.batches()) < n_batches and time.time() < give_up:
        time.sleep(0.05)
    spark.streams.removeListener(tap)


def warm_drain(orders: Orders, run_dir: str):
    """Set-up warm-up: a one-file available-now drain through the
    pipeline, into a fresh work dir per set-up."""
    inputs = os.path.join(run_dir, "warm_input")
    os.makedirs(inputs)
    encode_file(os.path.join(inputs, "part-00000.parquet"), orders.draw(WARM_ROWS))

    def warm(spark, rep: int) -> None:
        from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
            run_order_pipeline,
        )

        run_order_pipeline(
            spark, inputs, os.path.join(run_dir, f"warm{rep}"), available_now=True
        )

    return warm


def _batch_layers(progress: list[dict]) -> dict:
    """Per-batch pipeline phase numbers from the progress events."""

    def dur(key):
        return [float(p["durationMs"].get(key, 0.0)) for p in progress]

    rows = [p["numInputRows"] for p in progress]
    trig = dur("triggerExecution")
    add = dur("addBatch")
    out = {
        "pipeline.batches": metric(len(progress), "count"),
        "pipeline.rows_per_batch_p50": metric(nearest_rank(rows, 0.5), "rows"),
        "pipeline.trigger_ms_p50": metric(nearest_rank(trig, 0.5), "ms"),
        "pipeline.trigger_ms_p95": metric(nearest_rank(trig, 0.95), "ms"),
        "pipeline.add_batch_ms_p50": metric(nearest_rank(add, 0.5), "ms"),
        "pipeline.add_batch_ms_p95": metric(nearest_rank(add, 0.95), "ms"),
    }
    for key, name in (
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
        ("queryPlanning", "query_planning"),
        ("latestOffset", "latest_offset"),
        ("getBatch", "get_batch"),
    ):
        out[f"pipeline.{name}_ms_p50"] = metric(nearest_rank(dur(key), 0.5), "ms")
    routed = {"success": 0, "transient": 0, "permanent": 0}
    for p in progress:
        m = (p.get("observedMetrics") or {}).get("route_metrics") or {}
        routed["success"] += int(m.get("order_count", 0))
        routed["transient"] += int(m.get("transient_failure_count", 0))
        routed["permanent"] += int(m.get("permanent_failure_count", 0))
    for k, v in routed.items():
        out[f"routing.{k}_rows"] = metric(v, "count")
    return out


def run_paced(session, seed: int, seconds: float, run_dir: str, tracer) -> Result:
    orders = Orders(seed)
    warm = warm_drain(orders, run_dir)
    stage = os.path.join(run_dir, "stage")
    inputs = os.path.join(run_dir, "input")
    os.makedirs(stage)
    os.makedirs(inputs)
    t_prep = time.perf_counter()
    n_lead = round(LEAD_IN_S * PACED_FILES_PER_S)
    n_files = n_lead + max(1, round(seconds * PACED_FILES_PER_S))
    names, offsets = write_inputs(orders, stage, n_files, PACED_ROWS_PER_FILE)
    prepare_s = time.perf_counter() - t_prep

    spark = session.start(warm)
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    tap = _Progress()
    spark.streams.addListener(tap)
    tracer.install(spark)
    work = os.path.join(run_dir, "work")
    checkpoint = os.path.join(work, "checkpoint")
    host = HostStat()
    run_order_pipeline(spark, inputs, work, available_now=False)
    (query,) = spark.streams.active

    period = 1.0 / PACED_FILES_PER_S
    t0 = time.time() + 0.5
    due = [t0 + i * period for i in range(n_files)]
    late: list[float] = []

    def generate() -> None:
        for name, t in zip(names, due):
            wait = t - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(stage, name), os.path.join(inputs, name))
            late.append(time.time() - t)

    gen = threading.Thread(target=generate, name="perfbench-generator")
    gen.start()
    gen.join()
    deadline = due[-1] + DRAIN_WINDOW_S
    while time.time() < deadline and query.exception() is None:
        batches, commits = file_batches(checkpoint), commit_times(checkpoint)
        if all(batches.get(n) in commits for n in names):
            break
        time.sleep(0.05)
    query.stop()
    host.stop()
    batches, commits = file_batches(checkpoint), commit_times(checkpoint)
    _wait_for_progress(spark, tap, len(commits))

    committed = [batches.get(n) in commits for n in names]
    failed = committed.count(False)
    lat_ms = [
        (commits[batches[n]] - t) * 1000.0
        for n, t, ok in zip(names[n_lead:], due[n_lead:], committed[n_lead:])
        if ok
    ]
    if failed:
        problems = [f"{failed} of {n_files} files not committed"]
    else:
        problems = check_sinks(work, orders, offsets)
    lat_ms = lat_ms or [float("nan")]
    metrics = {
        "setup_s": metric(session.setup_s, "s"),
        "latency_p50_ms": metric(statistics.median(lat_ms), "ms"),
        "latency_mean_ms": metric(statistics.fmean(lat_ms), "ms"),
        "latency_p95_ms": metric(nearest_rank(lat_ms, 0.95), "ms"),
    }
    layers = {}
    if tracer.enabled:
        layers.update(session.layer_metrics())
        layers.update(_batch_layers(tap.batches()))
        layers.update(tracer.pipeline_metrics())
        layers.update(decode_layer(spark, inputs, len(offsets)))
        problems += check_routing_counts(layers, orders, offsets)
    layers.update(
        {
            "generator.late_ms_max": metric(max(late) * 1000.0, "ms"),
            "generator.prepare_s": metric(prepare_s, "s"),
            "host.steal_pct": metric(host.steal_pct, "%"),
            "host.busy_pct": metric(host.busy_pct, "%"),
        }
    )
    # median latency of each third of the window: a backlog that grows
    # shows as a rising trend
    k = len(lat_ms) // 3
    thirds = [statistics.median(lat_ms[i : i + k]) for i in range(0, 3 * k, k)] if k else []
    notes = {
        "files": n_files,
        "samples": len(lat_ms),
        "p95_ok": tail_ok(len(lat_ms), 0.95),
        "latency_thirds_ms": [round(x, 1) for x in thirds],
    }
    return Result(n_files, failed, problems, metrics, layers, notes)


def decode_layer(spark, inputs: str, rows: int) -> dict:
    """``decode_orders`` + ``route_orders`` over the stream's whole input
    as one batch job, per row."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        decode_orders,
        route_orders,
    )

    t0 = time.perf_counter()
    route_orders(decode_orders(spark.read.parquet(inputs))).groupBy("status").count().collect()
    return {
        "avro_ocf.decode_us_per_row": metric(
            (time.perf_counter() - t0) * 1e6 / rows, "us"
        )
    }
