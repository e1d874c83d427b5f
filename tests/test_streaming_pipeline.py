"""End-to-end flagship pipeline test (SURVEY.md §5.2): a deterministic
order set -> OCF-framed envelope parquet -> streaming pipeline ->
assert exact branch counts, DLQ record shape (original bytes + 5
headers), and float32-faithful aggregates."""

from __future__ import annotations

import struct

import pytest

from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import ocf_decode, ocf_encode
from kafka_avro_order_processor_eg_4131_spark.schemas import (
    DLQ_HEADER_KEYS,
    ORDER_AVRO_SCHEMA,
)

# frozen input hitting every band boundary (FIXTURES.md §1):
# 5.0/50.0 closed transient bounds, 1000.0 NOT permanent (strict >),
# 1000.01 permanent, plus interior points and a corrupt blob.
FROZEN_ORDERS = [
    ("o-01", "Amber Wallet", 4.99),     # success (below transient band)
    ("o-02", "Basic Kettle", 5.0),      # transient (closed lower bound)
    ("o-03", "Cobalt Ladder", 27.5),    # transient
    ("o-04", "Delta Mirror", 50.0),     # transient (closed upper bound)
    ("o-05", "Ember Candle", 50.01),    # success
    ("o-06", "Fancy Tablet", 822.13),   # success
    ("o-07", "Gentle Ribbon", 1000.0),  # success (strict >)
    ("o-08", "Hyper Saddle", 1000.01),  # permanent
    ("o-09", "Ivory Quartz", 1136.83),  # permanent (the screenshot's order)
    ("o-10", "Jolly Velvet", 1499.99),  # permanent
]


def f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


@pytest.fixture()
def envelope_dir(spark, tmp_path):
    rows = []
    for i, (oid, product, price) in enumerate(FROZEN_ORDERS):
        blob = ocf_encode(ORDER_AVRO_SCHEMA, [{"orderId": oid, "product": product, "price": price}])
        rows.append((oid.encode(), blob, "orders", 0, i))
    rows.append(("corrupt".encode(), b"not-an-avro-container", "orders", 0, len(rows)))
    df = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )
    path = str(tmp_path / "input")
    df.coalesce(1).write.parquet(path)
    return path


def test_pipeline_end_to_end(spark, tmp_path, envelope_dir):
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import run_order_pipeline

    sinks = run_order_pipeline(spark, envelope_dir, str(tmp_path / "work"))

    success = spark.read.parquet(sinks.success_dir)
    dlq = spark.read.parquet(sinks.dlq_dir)
    retry = spark.read.parquet(sinks.retry_dir)
    agg = spark.read.parquet(sinks.agg_dir)

    # branch counts: 4 success, 3 transient, 3 permanent + 1 corrupt
    assert success.count() == 4
    assert retry.count() == 3
    assert dlq.count() == 4

    # DLQ carries the ORIGINAL bytes, decodable back to the original order
    dlq_rows = dlq.collect()
    by_key = {bytes(r["key"]).decode(): r for r in dlq_rows}
    assert set(by_key) == {"o-08", "o-09", "o-10", "corrupt"}
    redecoded = ocf_decode(bytes(by_key["o-09"]["value"]))
    assert redecoded["orderId"] == "o-09"
    assert redecoded["price"] == f32(1136.83)

    # 5 headers with the reference's keys (consumer.py:90-96)
    hdrs = {h["key"]: bytes(h["value"]) for h in by_key["o-09"]["headers"]}
    assert tuple(hdrs) == DLQ_HEADER_KEYS
    assert hdrs["error_reason"] == b"Price exceeds threshold: 1136.83 > 1000.0"
    assert hdrs["original_topic"] == b"orders"
    assert hdrs["original_partition"] == b"0"
    assert hdrs["original_offset"] == b"8"
    # corrupt blob takes the catch-all reason (consumer.py:272-276)
    hdrs_c = {h["key"]: bytes(h["value"]) for h in by_key["corrupt"]["headers"]}
    assert hdrs_c["error_reason"].startswith(b"Processing error")

    # A1-A3 with float32-faithful values: sum over batch aggregates equals
    # the float64 sum of float32-decoded success prices
    totals = agg.groupBy().sum("order_count", "total_price").collect()[0]
    assert totals[0] == 4
    expected = sum(f32(p) for _, _, p in FROZEN_ORDERS if not (5.0 <= p <= 50.0) and p <= 1000.0)
    assert abs(totals[1] - expected) < 1e-9

    # replay safety: running the same pipeline again with the same
    # checkpoint processes nothing new (offsets are committed)
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import run_order_pipeline as rerun

    rerun(spark, envelope_dir, str(tmp_path / "work"))
    assert spark.read.parquet(sinks.success_dir).count() == 4


def test_retry_wrapper_semantics():
    from kafka_avro_order_processor_eg_4131_spark.streaming.retry import with_retry

    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, sleep=sleeps.append) == "ok"
    assert sleeps == [0.5, 1.0]  # linear 0.5*n backoff (consumer.py:307)

    # exhaustion routes to the DLQ callback (consumer.py:310-313)
    def always_fails():
        raise RuntimeError("permanent")

    out = with_retry(
        always_fails, max_retries=3, on_exhausted=lambda e: f"dlq:{e}", sleep=lambda s: None
    )
    assert out == "dlq:permanent"


def test_synthetic_generator_matches_reference_distribution(spark):
    from kafka_avro_order_processor_eg_4131_spark.sources.generator import synthetic_orders

    df = synthetic_orders(spark, n=2000, seed=42)
    rows = df.collect()
    assert len(rows) == 2000
    # deterministic across invocations
    again = synthetic_orders(spark, n=2000, seed=42).collect()
    assert rows == again
    prices = [r["price"] for r in rows]
    assert all(5.0 <= p <= 1500.0 for p in prices)
    # roughly uniform: mean near 752.5
    assert 650 < sum(prices) / len(prices) < 850
    ids = {r["orderId"] for r in rows}
    assert len(ids) == 2000
    assert all(len(r["product"].split(" ")) == 2 for r in rows)


def test_observed_metrics_match_reference_counters(spark, tmp_path, envelope_dir):
    """The observe() metrics reproduce the reference's in-memory counters
    (consumer.py:137-145) exactly: message/order/transient/permanent
    counts and the float32-faithful success price sum, summed across
    micro-batches."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    observed: list = []
    run_order_pipeline(
        spark, envelope_dir, str(tmp_path / "work"), observed_metrics=observed
    )
    assert observed, "no observed metrics surfaced in query progress"
    tot = {
        k: sum(m[k] for m in observed)
        for k in (
            "message_count",
            "order_count",
            "transient_failure_count",
            "permanent_failure_count",
        )
    }
    assert tot["message_count"] == len(FROZEN_ORDERS) + 1  # + corrupt blob
    assert tot["order_count"] == 4
    assert tot["transient_failure_count"] == 3
    assert tot["permanent_failure_count"] == 4  # 3 over-threshold + corrupt
    total_price = sum(m["total_price"] for m in observed if m["total_price"])
    expected = sum(
        f32(p) for _, _, p in FROZEN_ORDERS if not (5.0 <= p <= 50.0) and p <= 1000.0
    )
    assert abs(total_price - expected) < 1e-9


# ---------------------------------------------------------------------------
# micro-batch splits are sized by bytes, and the caller's conf survives
# ---------------------------------------------------------------------------

SPLIT_KEYS = (
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
)


def _write_envelope_files(path, n_files: int, rows_per_file: int, key_bytes=0) -> int:
    """``n_files`` envelope parquet files of OCF-framed orders; each key
    carries ``key_bytes`` random bytes, to give a file real size."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    offset = 0
    for f in range(n_files):
        oids = [f"o-{f}-{i}" for i in range(rows_per_file)]
        blobs = [
            ocf_encode(
                ORDER_AVRO_SCHEMA,
                [{"orderId": oid, "product": "Amber Wallet", "price": 4.99 + i}],
            )
            for i, oid in enumerate(oids)
        ]
        table = pa.table(
            {
                "key": pa.array(
                    [o.encode() + os.urandom(key_bytes) for o in oids], pa.binary()
                ),
                "value": pa.array(blobs, pa.binary()),
                "topic": pa.array(["orders"] * rows_per_file, pa.string()),
                "partition": pa.array([0] * rows_per_file, pa.int32()),
                "offset": pa.array(range(offset, offset + rows_per_file), pa.int64()),
            }
        )
        pq.write_table(table, str(path / f"part-{f:05d}.parquet"))
        offset += rows_per_file
    return offset


@pytest.fixture()
def batch_partitions(monkeypatch):
    """Partition count of every micro-batch ``process_batch`` receives.
    The foreachBatch lambda looks ``process_batch`` up at call time."""
    from kafka_avro_order_processor_eg_4131_spark.streaming import pipeline

    seen: list[int] = []
    real = pipeline.process_batch

    def recording(batch, batch_id, sinks):
        seen.append(batch.rdd.getNumPartitions())
        return real(batch, batch_id, sinks)

    monkeypatch.setattr(pipeline, "process_batch", recording)
    return seen


def _split_conf(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in SPLIT_KEYS}


def _set_split_conf(spark, values: dict) -> None:
    for k, v in values.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_small_micro_batch_is_one_split(spark, tmp_path, batch_partitions):
    """Eight small files in one micro-batch arrive as ONE partition (one
    decode task, one file per sink), not one per core."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    n_rows = _write_envelope_files(tmp_path / "input", 8, 16)
    observed: list = []
    run_order_pipeline(
        spark, str(tmp_path / "input"), str(tmp_path / "work"), observed_metrics=observed
    )
    assert batch_partitions == [1]
    assert sum(m["message_count"] for m in observed) == n_rows
    assert len(spark.read.parquet(str(tmp_path / "work" / "success")).inputFiles()) == 1


def test_micro_batch_larger_than_a_split_still_splits(
    spark, tmp_path, batch_partitions
):
    """The split rule is by bytes: three ~1.2 MB files do not fit in one
    split, so a large drain keeps its parallelism, and every row is
    still routed once."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    n_rows = _write_envelope_files(tmp_path / "input", 3, 12, key_bytes=100_000)
    observed: list = []
    run_order_pipeline(
        spark, str(tmp_path / "input"), str(tmp_path / "work"), observed_metrics=observed
    )
    assert batch_partitions == [3]
    assert sum(m["message_count"] for m in observed) == n_rows


@pytest.mark.parametrize(
    "callers_values",
    [
        dict.fromkeys(SPLIT_KEYS),
        dict(zip(SPLIT_KEYS, ("3", "64m", "1m"))),
    ],
    ids=["unset", "set"],
)
def test_available_now_run_restores_split_conf(
    spark, tmp_path, envelope_dir, callers_values
):
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    _set_split_conf(spark, callers_values)
    try:
        run_order_pipeline(spark, envelope_dir, str(tmp_path / "work"))
        assert _split_conf(spark) == callers_values
    finally:
        _set_split_conf(spark, dict.fromkeys(SPLIT_KEYS))


def test_continuous_run_restores_split_conf_when_stopped(
    spark, tmp_path, envelope_dir
):
    import time

    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        SPLIT_CONFS,
        run_order_pipeline,
    )

    unset = dict.fromkeys(SPLIT_KEYS)
    assert _split_conf(spark) == unset
    running = {q.id for q in spark.streams.active}
    run_order_pipeline(spark, envelope_dir, str(tmp_path / "work"), available_now=False)
    (query,) = [q for q in spark.streams.active if q.id not in running]
    try:
        query.processAllAvailable()
        assert _split_conf(spark) == SPLIT_CONFS
    finally:
        query.stop()
    # a thread waiting on the query releases the hold just after stop()
    give_up = time.time() + 30.0
    while _split_conf(spark) != unset and time.time() < give_up:
        time.sleep(0.05)
    assert _split_conf(spark) == unset


def test_byte_split_holds_are_counted_per_session():
    """Overlapping pipeline queries on one session share the setting:
    it stays until the last one ends, and the caller's values come back
    exactly once, also when holds and releases race on many threads."""
    import sys
    import threading

    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        SPLIT_CONFS,
        _hold_byte_splits,
        _release_byte_splits,
    )

    class StubConf(dict):
        def set(self, key, value):
            self[key] = value

        def unset(self, key):
            del self[key]

    class StubSession:
        def __init__(self, conf):
            self.conf = StubConf(conf)

    min_parts = SPLIT_KEYS[0]
    spark = StubSession({min_parts: "3"})
    _hold_byte_splits(spark)
    _hold_byte_splits(spark)
    _release_byte_splits(spark)
    assert spark.conf == SPLIT_CONFS
    _release_byte_splits(spark)
    assert spark.conf == {min_parts: "3"}

    spark = StubSession({})
    errors: list[str] = []

    def churn():
        for _ in range(300):
            _hold_byte_splits(spark)
            if spark.conf != SPLIT_CONFS:
                errors.append(f"held but read {dict(spark.conf)!r}")
            _release_byte_splits(spark)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert spark.conf == {}
