"""Unit tests of the benchmark's own logic; no Spark session needed.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import common
import queries
import run
import streams
import tracing


def test_nearest_rank():
    vals = list(range(1, 201))  # 1..200
    assert common.nearest_rank(vals, 0.5) == 100
    assert common.nearest_rank(vals, 0.95) == 190
    assert common.nearest_rank(reversed(vals), 1.0) == 200
    assert common.nearest_rank([7.0], 0.95) == 7.0
    with pytest.raises(ValueError):
        common.nearest_rank([], 0.5)


def test_tail_needs_ten_samples_beyond():
    assert common.tail_ok(200, 0.95)
    assert not common.tail_ok(199, 0.95)
    assert not common.tail_ok(28, 0.95)


@pytest.mark.parametrize(
    "price, route",
    [
        (None, streams.PERMANENT),
        (0.0, streams.SUCCESS),
        (4.99, streams.SUCCESS),
        (5.0, streams.TRANSIENT),
        (50.0, streams.TRANSIENT),
        (50.01, streams.SUCCESS),
        (1000.0, streams.SUCCESS),
        (1000.01, streams.PERMANENT),
        (1500.0, streams.PERMANENT),
    ],
)
def test_expected_route_at_band_boundaries(price, route):
    p = None if price is None else streams.float32(price)
    assert streams.expected_route(p) == route


def test_orders_are_seeded_and_cover_every_band():
    a, b = streams.Orders(7), streams.Orders(7)
    assert a.draw(3000) == b.draw(3000)
    assert streams.Orders(8).draw(5) != streams.Orders(7).draw(5)
    routes = list(a.route.values())
    for r in (streams.SUCCESS, streams.TRANSIENT, streams.PERMANENT):
        assert routes.count(r) > 0
    assert sum(p is None for p in a.price.values()) > 0  # corrupt payloads
    boundary = [p for p in a.price.values() if p in (5.0, 50.0, 1000.0)]
    assert len(boundary) > 0


def _log(path, batch_entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, bid in batch_entries:
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": bid, "action": "add"}) + "\n")


def test_file_batches_reads_compacted_and_numbered_logs(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    # batches 0..9 folded into 9.compact (their numbered files removed),
    # then 10 and 11 as plain numbered files
    _log(src / "9.compact", [(f"f{i}.parquet", i) for i in range(10)])
    _log(src / "10", [("f10.parquet", 10), ("f10b.parquet", 10)])
    _log(src / "11", [("f11.parquet", 11)])
    (src / ".11.crc").write_text("x")
    got = streams.file_batches(str(tmp_path))
    assert got["f0.parquet"] == 0 and got["f9.parquet"] == 9
    assert got["f10b.parquet"] == 10 and got["f11.parquet"] == 11
    assert len(got) == 13


def test_commit_times_skip_non_batch_files(tmp_path):
    c = tmp_path / "commits"
    c.mkdir()
    (c / "0").write_text("v1\n{}")
    (c / ".0.crc").write_text("x")
    assert list(streams.commit_times(str(tmp_path))) == [0]


def test_self_time_subtracts_union_of_overlapping_children():
    def span(sid, start, end, parent=None):
        s = tracing.Span(sid, "x", start, parent, None)
        s.end = end
        return s

    spans = [span(1, 0.0, 10.0), span(2, 1.0, 4.0, 1), span(3, 2.0, 6.0, 1), span(4, 8.0, 9.0, 1)]
    selfs = tracing.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0)


def test_benchmark_json_matches_the_metrics_reported():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: u for k, (u, _) in run.END_TO_END.items()
    }
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: u for k, (u, _) in run.PER_LAYER.items()
    }


def test_catalog_runs_a_fixed_list_with_every_heavy_entry():
    expected = queries.load_expected()
    assert set(queries.HEAVY) <= set(expected)
    assert all(isinstance(n, int) and n >= 0 for n in expected.values())
