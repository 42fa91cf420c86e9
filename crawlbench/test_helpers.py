"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest crawlbench -q
"""

from __future__ import annotations

import os

import pytest

from crawlbench import inputs, stats
from crawlbench.trace import Span, _snapshot_files, layer_metrics, self_times


# -- tail percentile rule ------------------------------------------------
@pytest.mark.parametrize(
    "n, pct", [(20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0),
               (1000, 99.0), (10_000, 99.9)]
)
def test_tail_leaves_at_least_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n)]
    t = stats.tail(samples)
    assert t["percentile"] == pct
    assert t["samples"] == n
    assert sum(s > t["value"] for s in samples) >= stats.MIN_BEYOND
    # and it is the highest such percentile on the ladder
    higher = [p for p in stats.TAIL_LADDER if p > pct]
    for p in higher:
        assert stats.nearest_rank(samples, p)[1] < stats.MIN_BEYOND


def test_tail_needs_twenty_samples():
    assert stats.tail([1.0] * 19) is None
    assert stats.tail([]) is None


def test_nearest_rank():
    assert stats.nearest_rank([5.0, 1.0, 3.0, 2.0, 4.0], 50) == (3.0, 2)
    assert stats.nearest_rank([1.0, 2.0], 100) == (2.0, 0)


# -- self time on nested spans ---------------------------------------------
def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: counted once
        Span("a.aux", 2.0, 3.0, parent=1, aux=True),
        Span("c", 9.0, 12.0, parent=0),  # clipped to the root's end
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0, 3.0])


def test_layer_metrics_per_operation_and_aux_excluded():
    spans = [
        Span("op", 0.0, 10.0, counts={"spark_tasks": 0}),
        Span("crawl_loop", 0.0, 10.0, parent=0, counts={"spark_tasks": 5}),
        Span("fetch", 1.0, 3.0, parent=1,
             counts={"rows": 10, "ok": 9, "spark_tasks": 4}),
        Span("fetch.aux", 2.0, 3.0, parent=2, aux=True,
             counts={"spark_tasks": 100}),
        Span("op", 10.0, 20.0),
        Span("crawl_loop", 10.0, 20.0, parent=4, counts={"spark_tasks": 7}),
    ]
    m = layer_metrics(spans, traced_s=[3.0], untraced_s=[2.0])
    assert m["fetch.busy_s"] == pytest.approx(1.0 / 2)
    assert m["fetch.pages"] == 5
    assert m["fetch.ok_ratio"] == pytest.approx(0.9)
    assert m["crawl_loop.self_s"] == pytest.approx((8.0 + 10.0) / 2)
    assert m["crawl_loop.spark_tasks"] == (5 + 4 + 7) / 2
    assert m["trace.overhead_ratio"] == pytest.approx(1.5)
    assert m["indexing.docs"] == 0


def test_snapshot_files_counts_only_fresh_writes(tmp_path):
    old, new = tmp_path / "v000001", tmp_path / "v000002"
    for b in (0, 1):
        (old / f"bucket={b}").mkdir(parents=True)
        (old / f"bucket={b}" / "part-0.parquet").write_bytes(b"x")
    (new / "bucket=0").mkdir(parents=True)
    os.link(old / "bucket=0" / "part-0.parquet",
            new / "bucket=0" / "part-0.parquet")
    (new / "bucket=1").mkdir()
    for i in range(3):
        (new / "bucket=1" / f"part-{i}.parquet").write_bytes(b"y")
    assert _snapshot_files(str(new)) == (3, 1, 2)


# -- seeded inputs ---------------------------------------------------------
def test_same_seed_same_inputs():
    a = inputs.frontier_rows(7, 5000, 100)
    b = inputs.frontier_rows(7, 5000, 100)
    assert inputs.due_urls(a) == inputs.due_urls(b)
    assert inputs.frontier_checksum(a) == inputs.frontier_checksum(b)


def test_other_seed_other_inputs():
    a = inputs.frontier_rows(7, 5000, 100)
    b = inputs.frontier_rows(8, 5000, 100)
    assert inputs.due_urls(a) != inputs.due_urls(b)
    assert inputs.frontier_checksum(a) != inputs.frontier_checksum(b)


def test_frontier_rows_match_the_graph():
    rows = inputs.frontier_rows(1, 3000, 100)
    assert rows["url"].tolist() == [
        inputs.page_url(i, 100) for i in range(3000)
    ]
    origin = inputs.epoch_us(inputs.CLOCK_ORIGIN)
    due = rows["status"] == "DISCOVERED"
    nfd = rows["next_fetch_date"].astype("int64")
    assert (nfd[due] < origin).all()
    assert (nfd[~due] > origin + 86_400_000_000).all()
    assert 0.4 < due.mean() < 0.6


def test_checksum_is_order_independent():
    pairs = [("a", 1), ("b", 2), ("c", 3)]
    assert inputs.checksum(pairs) == inputs.checksum(reversed(pairs))
    assert inputs.checksum(pairs) != inputs.checksum(pairs[:2])
