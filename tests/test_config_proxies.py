"""Config-driven assembly + proxy rotation tests."""

from __future__ import annotations

import json

import pytest

from incubator_stormcrawler_spark.protocol.proxies import (
    MultiProxyManager,
    SingleProxyManager,
)


def test_single_proxy():
    m = SingleProxyManager("http://p1:8080")
    assert m.next_proxy() == "http://p1:8080"


def test_round_robin():
    m = MultiProxyManager(["a", "b", "c"], "ROUND_ROBIN")
    assert [m.next_proxy() for _ in range(5)] == ["a", "b", "c", "a", "b"]


def test_random_deterministic():
    m1 = MultiProxyManager(["a", "b", "c"], "RANDOM", seed=7)
    m2 = MultiProxyManager(["a", "b", "c"], "RANDOM", seed=7)
    seq = [m1.next_proxy() for _ in range(10)]
    assert seq == [m2.next_proxy() for _ in range(10)]
    assert len(set(seq)) > 1


def test_least_used():
    m = MultiProxyManager(["a", "b"], "LEAST_USED")
    picks = [m.next_proxy() for _ in range(4)]
    assert picks.count("a") == 2 and picks.count("b") == 2


def test_build_crawl_loop_from_config(spark, tmp_path):
    from incubator_stormcrawler_spark.config import build_crawl_loop
    from incubator_stormcrawler_spark.protocol.fetch import MemoryProtocol

    site = {"https://h0.example/p0": "<html><a href='/p1'>x</a></html>",
            "https://h0.example/p1": "<html>end</html>"}
    conf = {
        "frontier.path": str(tmp_path / "frontier"),
        "fetcher.server.delay": 0.0,
        "spout.max.results": 50,
        "spout.max.urls.per.bucket": 5,
        "urlfilters": [
            {"class": "BasicURLNormalizer", "params": {}},
            {"class": "HostURLFilter", "params": {"ignore_outside_host": True}},
        ],
    }
    cfg_file = tmp_path / "crawler.json"
    cfg_file.write_text(json.dumps(conf))
    loop = build_crawl_loop(spark, str(cfg_file), lambda: MemoryProtocol(site))
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/p0",)], ["url"]))
    loop.run(2)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier == {
        "https://h0.example/p0": "FETCHED",
        "https://h0.example/p1": "FETCHED",
    }


def test_build_crawl_loop_round8_knobs(spark, tmp_path, monkeypatch):
    """The r8 scale/topology knobs flow from config keys into CrawlLoop
    (WARC archiving, rank priority) and a configured crawl still
    converges. With spout.rank.refresh.every = 3 the host-rank table is
    built once edges exist (generation 2) and reused in generation 3."""
    import glob

    from incubator_stormcrawler_spark.config import build_crawl_loop
    from incubator_stormcrawler_spark.operators import linkrank
    from incubator_stormcrawler_spark.protocol.fetch import MemoryProtocol

    # the cross-host link gives the host graph an edge to rank
    site = {"https://h0.example/p0":
            "<html><a href='/p1'>x</a>"
            "<a href='https://h1.example/q'>y</a></html>",
            "https://h0.example/p1": "<html>end</html>",
            "https://h1.example/q": "<html>end</html>"}
    conf = {
        "frontier.path": str(tmp_path / "frontier"),
        "fetcher.server.delay": 0.0,
        "warc.dir": str(tmp_path / "warc"),
        "spout.rank.priority": True,
        "spout.rank.max.buckets": 4,
        "spout.rank.refresh.every": 3,
    }
    loop = build_crawl_loop(spark, conf, lambda: MemoryProtocol(site))
    assert loop.rank_priority and loop.rank_max_buckets == 4
    assert loop.rank_refresh_every == 3
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/p0",)], ["url"])
    )
    builds = []
    real_link_rank = linkrank.link_rank

    def counted_link_rank(*args, **kwargs):
        builds.append(loop.generation)
        return real_link_rank(*args, **kwargs)

    monkeypatch.setattr(linkrank, "link_rank", counted_link_rank)
    builds_after = []
    for _ in range(3):
        loop.run_generation()
        builds_after.append(len(builds))
    # none in generation 1 (no edges yet), one in 2, a reuse in 3
    assert builds_after == [0, 1, 1]
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert set(frontier) == set(site)
    assert all(st == "FETCHED" for st in frontier.values())
    assert glob.glob(str(tmp_path / "warc" / "*.warc.gz"))


@pytest.mark.parametrize("cpus", ["0", "-2"])
def test_nonpositive_spark_graft_cpus_fails_at_startup(monkeypatch, cpus):
    """A core count of 0 or below is rejected before any session is
    built, with the variable named, instead of failing mid-run."""
    from pyspark.sql import SparkSession

    from incubator_stormcrawler_spark.session import get_spark

    def no_builder(*a, **kw):
        raise AssertionError("session builder reached")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setattr(SparkSession.Builder, "appName", no_builder)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-cpus")
