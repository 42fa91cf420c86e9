"""Robots rules + polite fetch tests (RobotRulesParser semantics; FetcherBolt
politeness with a fake clock — no wall-clock sleeps)."""

from __future__ import annotations

import pytest

from incubator_stormcrawler_spark.protocol.fetch import (
    MemoryProtocol,
    fetch_partition,
    status_from_http_code,
)
from incubator_stormcrawler_spark.protocol.robots import (
    RobotsCache,
    parse_robots_txt,
    rules_from_response,
)

ROBOTS = """
User-agent: evilbot
Disallow: /

User-agent: stormcrawler-spark
Disallow: /private/
Allow: /private/ok
Crawl-delay: 2

User-agent: *
Disallow: /admin/
Sitemap: https://s.example/sitemap.xml
"""


def test_robots_group_matching():
    r = parse_robots_txt(ROBOTS, ["stormcrawler-spark"])
    assert not r.is_allowed("https://s.example/private/x")
    assert r.is_allowed("https://s.example/private/ok")  # longest-match allow
    assert r.is_allowed("https://s.example/public")
    assert r.crawl_delay == 2
    assert r.sitemaps == ["https://s.example/sitemap.xml"]


def test_robots_star_group():
    r = parse_robots_txt(ROBOTS, ["someother"])
    assert not r.is_allowed("https://s.example/admin/x")
    assert r.is_allowed("https://s.example/private/x")


def test_robots_wildcards():
    r = parse_robots_txt(
        "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*/x\n", ["me"]
    )
    assert not r.is_allowed("https://s.example/doc.pdf")
    assert r.is_allowed("https://s.example/doc.pdfx")
    assert not r.is_allowed("https://s.example/tmp123/x")


def test_robots_response_codes():
    assert rules_from_response(404, None, ["me"]).allow_all
    assert rules_from_response(403, None, ["me"]).allow_all
    assert not rules_from_response(403, None, ["me"], allow_403=False).allow_all
    assert rules_from_response(500, None, ["me"]).deny_all


def test_status_mapping():
    assert status_from_http_code(200) == "FETCHED"
    assert status_from_http_code(301) == "REDIRECTION"
    # 404/410 are retryable — escalation to ERROR happens in the
    # status merge after max.fetch.errors, not here
    assert status_from_http_code(404) == "FETCH_ERROR"
    assert status_from_http_code(410) == "FETCH_ERROR"
    assert status_from_http_code(304) == "FETCHED"
    assert status_from_http_code(500) == "FETCH_ERROR"
    assert status_from_http_code(-1) == "FETCH_ERROR"


class FakeClock:
    def __init__(self):
        self.t = 0.0
        self.sleeps: list[float] = []

    def clock(self):
        return self.t

    def sleep(self, dt):
        self.sleeps.append(dt)
        self.t += dt


def test_fetch_partition_politeness_serial_delay():
    """Per-key serial + 1s delay; two keys interleave without extra waiting
    (FetcherBolt.java:191-245,385-435 semantics)."""
    site = {f"https://{h}.example/p{i}": f"<html>{h}{i}</html>"
            for h in ("a", "b") for i in range(3)}
    proto = MemoryProtocol(site)
    fc = FakeClock()
    rows = [(u, u.split("/")[2]) for u in sorted(site)]
    results = fetch_partition(
        rows, proto, server_delay=1.0, respect_robots=False,
        clock=fc.clock, sleep=fc.sleep,
    )
    assert len(results) == 6
    assert all(r.status == "FETCHED" for r in results)
    # per-key fetch times must be ≥1s apart on the fake clock
    times: dict[str, list[float]] = {}
    for t, url in proto.fetch_log:
        times.setdefault(url.split("/")[2], []).append(t)
    # MemoryProtocol logs monotonic (real) time; use order instead:
    order = [u for _, u in proto.fetch_log]
    a_idx = [i for i, u in enumerate(order) if "a.example" in u]
    b_idx = [i for i, u in enumerate(order) if "b.example" in u]
    # interleaved: a,b,a,b,... not a,a,a,b,b,b
    assert max(a_idx[0], b_idx[0]) == 1
    # total fake-time advanced ≈ 2 rounds of 1s delay, NOT 5 (interleaving
    # means the two keys share the waits)
    assert 1.9 <= fc.t <= 3.1


def test_fetch_partition_robots_deny():
    site = {"https://a.example/ok": "<html></html>",
            "https://a.example/private/x": "<html></html>"}
    proto = MemoryProtocol(
        site, robots={"a.example": "User-agent: *\nDisallow: /private/\n"}
    )
    fc = FakeClock()
    cache = RobotsCache(proto.get_robots, ["stormcrawler-spark"], clock=fc.clock)
    results = fetch_partition(
        [(u, "a.example") for u in sorted(site)], proto,
        server_delay=0.0, robots_cache=cache, respect_robots=True,
        clock=fc.clock, sleep=fc.sleep,
    )
    by_url = {r.url: r for r in results}
    assert by_url["https://a.example/ok"].status == "FETCHED"
    denied = by_url["https://a.example/private/x"]
    assert denied.status == "ERROR" and denied.error_cause == "robots.txt"


def test_fetch_partition_crawl_delay_too_long():
    """Crawl-delay above fetcher.max.crawl.delay → skip the whole queue
    (FetcherBolt.java:592-618)."""
    site = {"https://slow.example/a": "x", "https://slow.example/b": "x"}
    proto = MemoryProtocol(
        site, robots={"slow.example": "User-agent: *\nCrawl-delay: 45\nDisallow: /z\n"}
    )
    fc = FakeClock()
    cache = RobotsCache(proto.get_robots, ["stormcrawler-spark"], clock=fc.clock)
    results = fetch_partition(
        [(u, "slow.example") for u in sorted(site)], proto,
        server_delay=1.0, max_crawl_delay=30.0, robots_cache=cache,
        respect_robots=True, clock=fc.clock, sleep=fc.sleep,
    )
    assert all(r.status == "ERROR" for r in results)
    assert all(r.error_cause == "crawl delay too long" for r in results)
    assert proto.fetch_log == []  # nothing actually fetched


def test_fetch_spark_stage(spark):
    """End-to-end fetch() on a tiny in-memory site across partitions. The
    exchange has one partition per fetch slot (defaultParallelism), not
    spark.sql.shuffle.partitions, unless num_partitions says otherwise."""
    from pyspark.sql import Row
    from incubator_stormcrawler_spark.protocol.fetch import fetch

    site = {f"https://h{i % 4}.example/p{i}": f"<html>{i}</html>" for i in range(12)}
    batch = spark.createDataFrame(
        [Row(url=u, key=u.split("/")[2]) for u in site]
    )
    out = fetch(batch, lambda: MemoryProtocol(site), server_delay=0.0,
                respect_robots=False)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    rows = out.collect()
    assert len(rows) == 12
    assert all(r.status == "FETCHED" for r in rows)
    assert {bytes(r.content).decode() for r in rows} == set(site.values())
    out3 = fetch(batch, lambda: MemoryProtocol(site), server_delay=0.0,
                 respect_robots=False, num_partitions=3)
    assert out3.rdd.getNumPartitions() == 3


def test_threads_per_queue_min_delay():
    """fetcher.threads.per.queue > 1 → queue uses fetcher.server.min.delay
    (FetcherBolt.java:241-244): fake clock barely advances."""
    site = {f"https://a.example/p{i}": "x" for i in range(4)}
    proto = MemoryProtocol(site)
    fc = FakeClock()
    fetch_partition(
        [(u, "a.example") for u in sorted(site)], proto,
        server_delay=1.0, threads_per_queue=2, server_min_delay=0.0,
        respect_robots=False, clock=fc.clock, sleep=fc.sleep,
    )
    assert fc.t == 0.0  # no politeness waits with min-delay 0
    assert len(proto.fetch_log) == 4


def test_fetch_global_rate_limit_wallclock(spark):
    """The politeness core claim: after repartition(key), a host's fetch
    rate holds GLOBALLY (a key never spans partitions). Real wall-clock:
    6 URLs on one host at 0.3s delay must take ≥ 1.5s; a 6-host batch of
    6 URLs runs concurrently and far faster than serial."""
    import time
    from pyspark.sql import Row
    from incubator_stormcrawler_spark.protocol.fetch import fetch

    one_host = {f"https://slow.example/p{i}": "x" for i in range(6)}
    batch = spark.createDataFrame(
        [Row(url=u, key="slow.example") for u in one_host]
    )
    t0 = time.time()
    rows = fetch(batch, lambda: MemoryProtocol(one_host),
                 server_delay=0.3, respect_robots=False).collect()
    serial_t = time.time() - t0
    assert len(rows) == 6
    assert serial_t >= 1.5  # 5 inter-fetch delays × 0.3s

    many = {f"https://h{i}.example/p": "x" for i in range(6)}
    batch2 = spark.createDataFrame(
        [Row(url=u, key=u.split("/")[2]) for u in many]
    )
    t0 = time.time()
    rows = fetch(batch2, lambda: MemoryProtocol(many),
                 server_delay=0.3, respect_robots=False).collect()
    multi_t = time.time() - t0
    assert len(rows) == 6
    assert multi_t < serial_t  # independent hosts don't serialize


class SlowProtocol(MemoryProtocol):
    """MemoryProtocol with simulated network latency."""

    def __init__(self, site, latency=0.08):
        super().__init__(site)
        self.latency = latency

    def get_protocol_output(self, url, metadata):
        import time as _t

        _t.sleep(self.latency)
        return super().get_protocol_output(url, metadata)


def test_threaded_fetch_overlaps_latency():
    """FetcherBolt's thread pool: with slow fetches across many hosts,
    threads overlap network latency; per-key order and delay still hold."""
    import time as _t
    from incubator_stormcrawler_spark.protocol.fetch import (
        fetch_partition_threaded,
    )

    site = {f"https://h{h}.example/p{i}": "x" for h in range(8) for i in range(2)}
    rows = [(u, u.split("/")[2]) for u in sorted(site)]

    proto1 = SlowProtocol(site)
    t0 = _t.time()
    r1 = fetch_partition_threaded(rows, proto1, threads=1, server_delay=0.0,
                                  respect_robots=False)
    serial_t = _t.time() - t0

    proto8 = SlowProtocol(site)
    t0 = _t.time()
    r8 = fetch_partition_threaded(rows, proto8, threads=8, server_delay=0.0,
                                  respect_robots=False)
    threaded_t = _t.time() - t0

    assert len(r1) == len(r8) == 16
    assert {x.url for x in r1} == {x.url for x in r8} == set(site)
    assert all(x.status == "FETCHED" for x in r8)
    assert threaded_t < serial_t / 2  # real overlap
    # per-key serial order preserved even under threading
    order = [u for _, u in proto8.fetch_log]
    for h in range(8):
        host_urls = [u for u in order if f"h{h}.example" in u]
        assert host_urls == sorted(host_urls)


def test_threaded_fetch_respects_delay():
    """Per-key crawl delay holds under threads: one host, 4 URLs, 0.2s
    delay → ≥ 0.6s wall regardless of 8 threads."""
    import time as _t
    from incubator_stormcrawler_spark.protocol.fetch import (
        fetch_partition_threaded,
    )

    site = {f"https://one.example/p{i}": "x" for i in range(4)}
    proto = MemoryProtocol(site)
    t0 = _t.time()
    res = fetch_partition_threaded(
        [(u, "one.example") for u in sorted(site)], proto, threads=8,
        server_delay=0.2, respect_robots=False,
    )
    dt = _t.time() - t0
    assert len(res) == 4
    assert dt >= 0.55


def test_robots_sitemap_autodiscovery():
    """Sitemaps declared in robots.txt surface as DISCOVERED rows
    (FetcherBolt.java:556-576)."""
    site = {"https://a.example/page": "<html>x</html>"}
    proto = MemoryProtocol(
        site,
        robots={"a.example":
                "User-agent: *\nDisallow: /private/\n"
                "Sitemap: https://a.example/sitemap.xml\n"},
    )
    fc = FakeClock()
    cache = RobotsCache(proto.get_robots, ["stormcrawler-spark"], clock=fc.clock)
    results = fetch_partition(
        [("https://a.example/page", "a.example")], proto,
        server_delay=0.0, robots_cache=cache, respect_robots=True,
        clock=fc.clock, sleep=fc.sleep,
    )
    by_status = {}
    for r in results:
        by_status.setdefault(r.status, []).append(r.url)
    assert by_status["FETCHED"] == ["https://a.example/page"]
    assert by_status["DISCOVERED"] == ["https://a.example/sitemap.xml"]


# -- browser protocol against a fake driver (RemoteDriverProtocolTest
#    pattern — external/playwright/.../HttpProtocol.java:51) ---------------

class FakeResp:
    def __init__(self, status):
        self.status = status


class FakePage:
    def __init__(self, status=200, html="<html>rendered</html>", fail=False):
        self._status = status
        self._html = html
        self._fail = fail
        self.closed = False
        self.goto_url = None
        self.scrolled = False

    def goto(self, url, timeout=None):
        if self._fail:
            raise RuntimeError("net::ERR_CONNECTION_REFUSED")
        self.goto_url = url
        return FakeResp(self._status)

    def content(self):
        return self._html

    def close(self):
        self.closed = True


class FakeBrowser:
    def __init__(self, page):
        self._page = page
        self.agents = []

    def new_page(self, user_agent=None):
        self.agents.append(user_agent)
        return self._page


def test_browser_protocol_renders_with_fake_driver():
    from incubator_stormcrawler_spark.protocol.browser import (
        PlaywrightProtocol,
    )

    page = FakePage(status=200, html="<html>post-js dom</html>")
    browser = FakeBrowser(page)
    proto = PlaywrightProtocol(browser_factory=lambda agent: browser)
    resp = proto.get_protocol_output("https://a.example/app", {})
    assert resp.status_code == 200
    assert resp.content == b"<html>post-js dom</html>"
    assert resp.metadata["fetch.rendered"] == ["true"]
    assert resp.metadata["fetch.statusCode"] == ["200"]
    assert browser.agents == ["stormcrawler-spark"]
    assert page.goto_url == "https://a.example/app"
    assert page.closed  # page closed even on success


def test_browser_protocol_navigation_filter_hook():
    from incubator_stormcrawler_spark.protocol.browser import (
        PlaywrightProtocol,
    )

    def scroll_to_bottom(page):
        page.scrolled = True

    page = FakePage()
    proto = PlaywrightProtocol(
        browser_factory=lambda agent: FakeBrowser(page),
        navigation_filter=scroll_to_bottom,
    )
    proto.get_protocol_output("https://a.example/", {})
    assert page.scrolled  # NavigationFilters hook ran before extraction


def test_browser_protocol_error_path_closes_page():
    from incubator_stormcrawler_spark.protocol.browser import (
        PlaywrightProtocol,
    )

    page = FakePage(fail=True)
    proto = PlaywrightProtocol(browser_factory=lambda agent: FakeBrowser(page))
    resp = proto.get_protocol_output("https://down.example/", {})
    assert resp.status_code == -1
    assert "ERR_CONNECTION_REFUSED" in resp.metadata["error.cause"][0]
    assert page.closed  # finally-close on the error path too


def test_browser_protocol_reuses_browser():
    from incubator_stormcrawler_spark.protocol.browser import (
        PlaywrightProtocol,
    )

    calls = []

    def factory(agent):
        calls.append(agent)
        return FakeBrowser(FakePage())

    proto = PlaywrightProtocol(browser_factory=factory)
    proto.get_protocol_output("https://a.example/1", {})
    proto.get_protocol_output("https://a.example/2", {})
    assert len(calls) == 1  # one browser per protocol instance


def test_fetch_global_rate_1000_keys_32_partitions():
    """Cluster-scale politeness property (FetcherBolt.java:191-245): with
    1,000 hosts hash-assigned to 32 partitions — the repartition("key")
    shape fetch() uses — the per-host fetch rate never exceeds 1/delay
    GLOBALLY, because (a) every key lives in exactly ONE partition and
    (b) within that partition its fetches are serial with >= delay
    spacing. Fake clocks per partition, zero wall-clock sleeps; every
    inter-fetch gap of every host across the whole fleet is checked."""
    n_keys, n_parts, delay = 1000, 32, 1.0
    site = {
        f"https://h{k}.example/p{i}": "x"
        for k in range(n_keys)
        for i in range(3)
    }
    rows = [(u, u.split("/")[2]) for u in sorted(site)]

    # hash-partition by key — a deterministic stand-in for
    # repartition("key"): the property that matters is key -> ONE partition
    parts: dict[int, list] = {p: [] for p in range(n_parts)}
    for u, k in rows:
        parts[hash(k) % n_parts].append((u, k))
    assigned = {}
    for p, prows in parts.items():
        for _, k in prows:
            assert assigned.setdefault(k, p) == p  # key never spans parts

    class FakeTimeProtocol(MemoryProtocol):
        def __init__(self, site, fc):
            super().__init__(site)
            self.fc = fc
            self.fake_log: list[tuple[float, str]] = []

        def get_protocol_output(self, url, metadata):
            self.fake_log.append((self.fc.t, url))
            return super().get_protocol_output(url, metadata)

    fetch_times: dict[str, list[float]] = {}
    total = 0
    for p, prows in parts.items():
        if not prows:
            continue
        fc = FakeClock()
        proto = FakeTimeProtocol(site, fc)
        results = fetch_partition(
            prows, proto, server_delay=delay, respect_robots=False,
            clock=fc.clock, sleep=fc.sleep,
        )
        total += len(results)
        for t, url in proto.fake_log:
            fetch_times.setdefault(url.split("/")[2], []).append(t)

    assert total == len(rows)
    assert len(fetch_times) == n_keys
    eps = 1e-9
    for key, ts in fetch_times.items():
        ts.sort()
        assert len(ts) == 3
        for a, b in zip(ts, ts[1:]):
            assert b - a >= delay - eps, (
                f"host {key} fetched {b - a:.3f}s apart (< {delay}s)"
            )
