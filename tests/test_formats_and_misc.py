"""File-format scan coverage (CSV/JSON/ORC round-trips through Spark),
the .avsc schema loader (S2), console sink (K3) smoke, approx-distinct
accuracy, the applyInPandas custom aggregate vs its window twin, and
the once-per-context package shipping."""

from __future__ import annotations

import json
import math

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_csv_json_orc_roundtrip(spark, sf_small, tmp_path):
    from kafka_avro_order_processor_eg_4131_spark.sources.tables import load_table

    orders = load_table(spark, sf_small, "orders").limit(200)
    expected = sorted(
        (r["o_orderkey"], r["o_orderstatus"]) for r in orders.collect()
    )
    for fmt, opts in (
        ("csv", {"header": "true"}),
        ("json", {}),
        ("orc", {}),
    ):
        path = str(tmp_path / fmt)
        orders.write.options(**opts).format(fmt).save(path)
        back = spark.read.options(**opts, inferSchema="true").format(fmt).load(path)
        got = sorted((r["o_orderkey"], r["o_orderstatus"]) for r in back.collect())
        assert got == expected, fmt


def test_avsc_loader_roundtrip(tmp_path):
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        ORDER_AVRO_SCHEMA,
        ORDER_SCHEMA,
        load_avsc,
    )

    p = tmp_path / "order.avsc"
    p.write_text(json.dumps(ORDER_AVRO_SCHEMA))
    schema_json, struct = load_avsc(str(p))
    assert json.loads(schema_json)["name"] == "Order"
    assert struct == ORDER_SCHEMA


def test_console_sink_streaming_smoke(spark, tmp_path):
    """K3: the console sink path used by the reference's per-message
    prints — run a bounded file stream into format('console')."""
    from kafka_avro_order_processor_eg_4131_spark.sources.tables import load_table

    src = str(tmp_path / "src")
    load_table(spark, "/root/testdata/sf0.001", "orders").limit(5).write.parquet(src)
    stream = spark.readStream.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp_ntz, o_orderpriority string"
    ).parquet(src)
    q = (
        stream.writeStream.format("console")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert q.lastProgress is not None


def test_approx_count_distinct_accuracy(spark, sf_oracle):
    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY

    approx = {
        r["o_orderstatus"]: r["approx_customers"]
        for r in REGISTRY["agg_approx_count_distinct"].fn(spark, sf_oracle).collect()
    }
    exact = {
        r["o_orderstatus"]: r["n_customers"]
        for r in REGISTRY["agg_count_distinct_customers"].fn(spark, sf_oracle).collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.15, (k, approx[k], ex)


def test_applyinpandas_gap_stats_matches_window_formulation(spark, sf_small):
    from kafka_avro_order_processor_eg_4131_spark.operators.grouped import order_gap_stats
    from kafka_avro_order_processor_eg_4131_spark.sources.tables import load_table

    orders = load_table(spark, sf_small, "orders")
    key = lambda r: (r["o_orderstatus"], r["o_orderpriority"])  # noqa: E731
    custom = {key(r): r for r in order_gap_stats(orders).collect()}
    w = Window.partitionBy("o_orderstatus", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = (
        orders.withColumn("prev", F.lag("o_orderdate").over(w))
        .withColumn(
            "gap_days",
            (F.unix_timestamp("o_orderdate") - F.unix_timestamp("prev")) / 86400.0,
        )
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.avg("gap_days").alias("mean_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
    )
    builtin = {key(r): r for r in gaps.collect()}
    assert set(custom) == set(builtin)
    for k in custom:
        c, b = custom[k], builtin[k]
        assert c["n_orders"] == b["n_orders"]
        for col in ("mean_gap_days", "max_gap_days"):
            cv, bv = c[col], b[col]
            if bv is None:
                assert cv is None or math.isnan(cv)
            else:
                assert abs(cv - bv) < 1e-9, (k, col, cv, bv)


def test_percentile_approx_accuracy(spark, sf_oracle):
    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY

    approx = {
        r["o_orderstatus"]: r["median_approx"]
        for r in REGISTRY["agg_percentile_approx"].fn(spark, sf_oracle).collect()
    }
    exact = {
        r["o_orderstatus"]: r["median_price"]
        for r in REGISTRY["agg_percentiles"].fn(spark, sf_oracle).collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.05, (k, approx[k], ex)


def test_user_api_sql_and_named_queries(spark, sf_small):
    from kafka_avro_order_processor_eg_4131_spark import api

    df = api.sql(
        spark,
        sf_small,
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1",
    )
    assert {r["o_orderstatus"] for r in df.collect()} == {"F", "O", "P"}
    named = api.run_query(spark, sf_small, "route_status_agg").collect()
    assert len(named) == 3
    assert "route_status_agg" in api.list_queries()


def test_hll_sketch_partial_union_equals_direct(spark, sf_small):
    """Mergeable-sketch pattern (the at-scale distinct-count story:
    sketch per partition/day, union later): unioning per-segment HLL
    sketches must estimate the same value as sketching the whole
    column directly, and both must be within HLL error of the exact
    count."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.sources.tables import load_table

    o = load_table(spark, sf_small, "orders")
    exact = o.select("o_custkey").distinct().count()

    direct = o.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    ).first()["est"]

    per_segment = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = per_segment.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).first()["est"]

    assert merged == direct  # same sketch algebra, same buckets
    assert abs(merged - exact) / exact < 0.05, (merged, exact)


def test_ship_package_ships_every_new_context_once(monkeypatch):
    """``ship_package`` attaches the zip once per SparkContext, and a new
    context is shipped even when it reuses the ``id()`` of a dead one."""
    from types import SimpleNamespace

    from kafka_avro_order_processor_eg_4131_spark import shipping

    monkeypatch.setattr(shipping, "_build_zip", lambda: "pkg.zip")

    class StubContext:
        def __init__(self) -> None:
            self.shipped: list[str] = []

        def addPyFile(self, path: str) -> None:
            self.shipped.append(path)

    # CPython hands a freed object's memory to the next object of its
    # size, so the contexts of this loop keep recycling one another's ids
    for _ in range(20):
        sc = StubContext()
        shipping.ship_package(SimpleNamespace(sparkContext=sc))
        shipping.ship_package(SimpleNamespace(sparkContext=sc))
        assert sc.shipped == ["pkg.zip"]
        del sc
