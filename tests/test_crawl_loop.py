"""End-to-end recursive crawl over a closed in-memory site graph
(SURVEY.md §3.1 lifecycle; the MemorySpout/MemoryStatusUpdater loopback
pattern, core/.../spout/MemorySpout.java:44)."""

from __future__ import annotations

import os

import pytest

from incubator_stormcrawler_spark.functions.filtering import URLFilterChain
from incubator_stormcrawler_spark.operators.status_merge import (
    merge_status_updates,
)
from incubator_stormcrawler_spark.protocol.fetch import MemoryProtocol
from incubator_stormcrawler_spark.streaming.crawl_loop import CrawlLoop


def build_site(n_hosts: int = 2, pages_per_host: int = 5) -> dict:
    """Closed graph: each page links to the next page on its host and to
    page 0 of the next host; host pages 0 link to all their siblings."""
    site = {}
    hosts = [f"h{i}.example" for i in range(n_hosts)]
    for hi, host in enumerate(hosts):
        for p in range(pages_per_host):
            links = []
            if p == 0:
                links = [f"https://{host}/p{q}" for q in range(1, pages_per_host)]
            else:
                links = [f"https://{host}/p{(p + 1) % pages_per_host}"]
            links.append(f"https://{hosts[(hi + 1) % n_hosts]}/p0")
            body = "".join(f'<a href="{u}">x</a>' for u in links)
            site[f"https://{host}/p{p}"] = f"<html><body>{body}</body></html>"
    return site


def test_recursive_crawl_converges(spark, tmp_path):
    site = build_site(2, 5)
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        filter_chain=URLFilterChain.from_config(
            [{"class": "BasicURLNormalizer", "params": {}}]
        ),
        server_delay=0.0,
        max_per_bucket=10,
        max_results=100,
    )
    seeds = spark.createDataFrame([("https://h0.example/p0",)], ["url"])
    loop.inject_seeds(seeds)

    f0 = {r.url: r.status for r in loop.read_frontier().collect()}
    assert f0 == {"https://h0.example/p0": "DISCOVERED"}

    stats = loop.run(4)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    # the whole closed graph must be discovered and fetched
    assert set(frontier) == set(site)
    assert all(st == "FETCHED" for st in frontier.values()), frontier
    # nothing due anymore → an extra generation fetches nothing
    extra = loop.run_generation()
    assert extra["batch"] == 0


def test_crawl_records_fetch_errors(spark, tmp_path):
    site = {"https://h0.example/p0":
            '<html><a href="https://h0.example/missing">x</a></html>'}
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/p0",)], ["url"]))
    loop.run(2)
    frontier = {r.url: r for r in loop.read_frontier().collect()}
    assert frontier["https://h0.example/p0"].status == "FETCHED"
    # missing page 404 → retryable FETCH_ERROR (Status.fromHTTPCode maps all
    # non-2xx/3xx to FETCH_ERROR; terminality comes from the error_count
    # escalation in merge_status_updates after max.fetch.errors attempts)
    missing = frontier["https://h0.example/missing"]
    assert missing.status == "FETCH_ERROR"
    assert missing.error_count == 1


def test_depth_limited_crawl(spark, tmp_path):
    """max_depth stops discovery at the configured hop count
    (MaxDepthFilter semantics wired through the loop; depth rides the
    frontier and increments per hop)."""
    site = {
        "https://h0.example/p0": '<html><a href="/p1">a</a></html>',
        "https://h0.example/p1": '<html><a href="/p2">a</a></html>',
        "https://h0.example/p2": '<html><a href="/p3">a</a></html>',
        "https://h0.example/p3": "<html>end</html>",
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        max_depth=2,
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/p0",)], ["url"]))
    loop.run(4)
    frontier = {r.url: (r.status, r.depth) for r in loop.read_frontier().collect()}
    # depth 0,1,2 crawled; p2's outlinks (would be depth 3) filtered out
    assert frontier["https://h0.example/p0"] == ("FETCHED", 0)
    assert frontier["https://h0.example/p1"] == ("FETCHED", 1)
    assert frontier["https://h0.example/p2"] == ("FETCHED", 2)
    assert "https://h0.example/p3" not in frontier


def test_adaptive_refetch_intervals(spark, tmp_path):
    """AdaptiveScheduler wired through the loop: first fetch takes the
    default interval; an unchanged refetch grows it 1.5x; a changed one
    shrinks it (AdaptiveScheduler.java:33-119 semantics on the flat
    signature/fetch_interval columns)."""
    site = {"https://h0.example/p0": "<html>version one</html>"}
    proto = MemoryProtocol(site)
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: proto,
        server_delay=0.0,
        adaptive=True,
        # daily generations so +1440/2160-minute schedules come due again
        now_fn=lambda gen: f"2024-01-{15 + 2 * gen:02d} 00:00:00",
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/p0",)], ["url"]))

    loop.run_generation()  # first fetch → default interval
    r = loop.read_frontier().collect()[0]
    assert r.status == "FETCHED" and r.fetch_interval == 1440.0
    sig1 = r.signature
    assert sig1 is not None

    loop.run_generation()  # unchanged content → interval × 1.5
    r = loop.read_frontier().collect()[0]
    assert r.fetch_interval == 2160.0 and r.signature == sig1

    site["https://h0.example/p0"] = "<html>version TWO</html>"
    loop.run_generation()  # changed content → interval × 0.5
    r = loop.read_frontier().collect()[0]
    assert r.fetch_interval == 1080.0
    assert r.signature != sig1


def test_crawl_respects_robots(spark, tmp_path):
    """respect_robots in the loop: denied paths become terminal ERROR with
    cause, allowed paths crawl normally."""
    site = {
        "https://h0.example/ok": '<html><a href="/private/x">x</a></html>',
        "https://h0.example/private/x": "<html>secret</html>",
    }
    robots = {"h0.example": "User-agent: *\nDisallow: /private/\n"}
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site, robots=robots),
        server_delay=0.0,
        respect_robots=True,
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/ok",)], ["url"]))
    loop.run(2)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier["https://h0.example/ok"] == "FETCHED"
    assert frontier["https://h0.example/private/x"] == "ERROR"


def test_crawl_with_content_cache(spark, tmp_path):
    """ContentCache in the loop (S3Cacher/S3CacheChecker): a re-crawl of
    known URLs serves bytes from the cache — the protocol sees no fetch."""
    from incubator_stormcrawler_spark.operators.indexing import ContentCache

    site = {"https://h0.example/p0": '<html><a href="/p1">x</a></html>',
            "https://h0.example/p1": "<html>end</html>"}
    proto = MemoryProtocol(site)
    cache = ContentCache(str(tmp_path / "cache"))
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: proto,
        server_delay=0.0,
        content_cache=cache,
        metrics_path=str(tmp_path / "metrics"),
        # re-crawl cadence: everything due again 2 days later
        now_fn=lambda gen: f"2024-01-{15 + 2 * gen:02d} 00:00:00",
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/p0",)], ["url"]))
    s1 = loop.run_generation()
    assert s1["cache_hits"] == 0  # first sight of p0: real fetch
    s2 = loop.run_generation()  # p1 fresh; p0 already due again → cache hit
    assert s2["cache_hits"] == 1 and s2["fetched_ok"] == 2
    assert cache.read(spark).count() == 2

    s3 = loop.run_generation()  # full re-crawl → cache serves both
    assert s3["cache_hits"] == 2 and s3["fetched_ok"] == 2
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert all(v == "FETCHED" for v in frontier.values())
    metrics = spark.read.parquet(str(tmp_path / "metrics"))
    assert metrics.count() == 3


def test_crawl_follows_sitemaps_and_feeds(spark, tmp_path):
    """The full parse cascade in the loop: a sitemap seed expands into its
    URLs, a feed expands into entries, HTML pages contribute anchors."""
    sitemap = (
        b'<?xml version="1.0"?>'
        b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<url><loc>https://h0.example/page1</loc></url>"
        b"<url><loc>https://h0.example/feed.xml</loc></url>"
        b"</urlset>"
    )
    feed = (
        b'<?xml version="1.0"?><rss version="2.0"><channel>'
        b"<item><title>x</title><link>https://h0.example/from-feed</link></item>"
        b"</channel></rss>"
    )
    site = {
        "https://h0.example/sitemap.xml": sitemap,
        "https://h0.example/feed.xml": feed,
        "https://h0.example/page1": '<html><a href="/page2">x</a></html>',
        "https://h0.example/page2": "<html>leaf</html>",
        "https://h0.example/from-feed": "<html>feed target</html>",
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/sitemap.xml",)], ["url"])
    )
    loop.run(4)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier == {u: "FETCHED" for u in site}


def test_robots_sitemap_discovery_feeds_loop(spark, tmp_path):
    """robots.txt Sitemap: declarations inject the sitemap into the
    frontier; the next generation fetches and expands it."""
    sitemap = (
        b'<?xml version="1.0"?>'
        b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<url><loc>https://h0.example/from-sitemap</loc></url></urlset>"
    )
    site = {
        "https://h0.example/start": "<html>hello</html>",
        "https://h0.example/sitemap.xml": sitemap,
        "https://h0.example/from-sitemap": "<html>found</html>",
    }
    robots = {"h0.example":
              "User-agent: *\nSitemap: https://h0.example/sitemap.xml\n"}
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site, robots=robots),
        server_delay=0.0,
        respect_robots=True,
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/start",)], ["url"]))
    loop.run(3)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier["https://h0.example/sitemap.xml"] == "FETCHED"
    assert frontier["https://h0.example/from-sitemap"] == "FETCHED"


def test_meta_refresh_redirect_followed(spark, tmp_path):
    """Meta-refresh pages report REDIRECTION and their target is
    discovered + crawled in the next generation."""
    site = {
        "https://h0.example/old":
            '<html><meta http-equiv="refresh" content="0;url=/new"></html>',
        "https://h0.example/new": "<html>the real page</html>",
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/old",)], ["url"]))
    loop.run(2)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier["https://h0.example/old"] == "REDIRECTION"
    assert frontier["https://h0.example/new"] == "FETCHED"


def test_http_301_redirect_followed(spark, tmp_path):
    """Protocol-level 3xx: status REDIRECTION recorded, Location target
    discovered and fetched next generation (_redirTo semantics)."""
    site = {
        "https://h0.example/moved": (301, "https://h0.example/here"),
        "https://h0.example/here": "<html>destination</html>",
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/moved",)], ["url"]))
    loop.run(2)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier["https://h0.example/moved"] == "REDIRECTION"
    assert frontier["https://h0.example/here"] == "FETCHED"


def test_status_metrics_table(spark, tmp_path):
    """Per-generation status distribution lands in the metrics_path_status
    table (StatusMetricsBolt cadence)."""
    site = {"https://h0.example/p0": "<html>x</html>"}
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        metrics_path=str(tmp_path / "metrics"),
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/p0",)], ["url"]))
    loop.run(2)
    status = spark.read.parquet(str(tmp_path / "metrics") + "_status")
    rows = {(r.generation, r.status): r.num_urls for r in status.collect()}
    assert rows[(1, "FETCHED")] == 1
    assert rows[(2, "FETCHED")] == 1


def test_default_loop_frontier_is_bucket_partitioned(spark, tmp_path):
    """A loop built with no layout option keeps its frontier partitioned
    by bucket: the first commit creates the table, every later one is the
    pruned merge_commit, and the closed graph is still fully discovered.
    (Pruned merge = full merge is pinned by tests/test_streaming.py::
    test_merge_commit_rewrites_only_touched_buckets.)"""
    import glob

    site = build_site(3, 4)
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/p0",)], ["url"])
    )
    loop.run(3)
    assert len(loop.read_frontier().collect()) == len(site)
    snap = loop.table.snapshot()
    files = glob.glob(f"{snap}/**/*.parquet", recursive=True)
    assert files
    assert all(
        os.path.basename(os.path.dirname(f)).startswith("bucket=")
        and os.path.dirname(os.path.dirname(f)) == snap
        for f in files
    ), files


def test_carry_forward_over_unpartitioned_frontier_raises(spark, tmp_path):
    """A frontier written without partitions (the layout of the former
    default loop) holds its parquet files at the snapshot root. A
    carry-forward commit links partition directories only, so the
    partitioned merge into it used to drop those rows silently: it kept
    only the rows of the buckets a generation touched (1 of these 6
    after one generation capped at one URL). A new loop over it now
    raises at construction, a merge into it raises before writing, and
    the table is unchanged."""
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        FrontierTable,
    )

    path = str(tmp_path / "frontier")
    site = {
        f"https://h{i}.example/p0": f"<html><body>{i}</body></html>"
        for i in range(6)
    }
    loop = CrawlLoop(
        spark,
        frontier_path=path,
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        max_results=1,
    )
    # the unpartitioned layout, as the former default loop committed it
    FrontierTable(path).commit(
        merge_status_updates(
            loop.read_frontier(),
            spark.createDataFrame([(u, "DISCOVERED", 0) for u in site],
                                  "url string, status string, depth int"),
            loop.now_fn(0),
        )
    )
    version = loop.table.current_version()
    before = sorted(tuple(r) for r in loop.read_frontier().collect())
    assert len(before) == 6
    # a loop built over that layout is refused before any generation
    with pytest.raises(ValueError, match="outside bucket= partitions"):
        CrawlLoop(spark, path, lambda: MemoryProtocol(site))

    with pytest.raises(ValueError, match="outside bucket= partitions"):
        loop.run_generation()
    assert loop.table.current_version() == version
    assert sorted(tuple(r) for r in loop.read_frontier().collect()) == before
    # MIGRATION.md's conversion: one replace commit into the partitioned
    # layout, after which the loop merges without losing a row
    loop.table.commit(FrontierTable(path).read(spark))
    assert loop.run_generation()["fetched_ok"] == 1
    assert loop.read_frontier().count() == 6


def test_generation_with_nothing_new_commits_no_index_or_cache_version(
    spark, tmp_path
):
    """A generation that parsed no doc and fetched nothing beyond the
    cache commits no index version and no content-cache version."""
    from incubator_stormcrawler_spark.operators.indexing import (
        ContentCache,
        IndexTable,
    )

    site = {"https://h0.example/p0": "<html><body>zero</body></html>"}
    index = IndexTable(str(tmp_path / "index"))
    cache = ContentCache(str(tmp_path / "cache"))
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=index,
        content_cache=cache,
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/p0",)], ["url"])
    )
    first = loop.run_generation()
    assert (first["fetched_ok"], first["docs"]) == (1, 1)
    versions = (index.current_version(), cache.current_version())
    assert versions == (1, 1)
    # p0 is next due a day later: nothing to fetch this generation
    second = loop.run_generation()
    assert (second["batch"], second["fetched_ok"], second["docs"]) == (0, 0, 0)
    assert (
        index.current_version(), cache.current_version()
    ) == versions


def test_compact_cadence_bounds_file_counts_across_generations(
    spark, tmp_path
):
    """compact_every wires FrontierTable.compact (OPTIMIZE) into the loop
    (the r9 verdict's maintenance-cadence item): across a multi-generation
    crawl the bucketed table's per-bucket parquet file count stays bounded
    by the compaction target instead of accreting merge fragments, and the
    crawl result is IDENTICAL to the uncompacted run (maintenance never
    touches content)."""
    import glob
    import os

    site = build_site(4, 6)

    def run(path, **kw):
        loop = CrawlLoop(
            spark,
            frontier_path=str(tmp_path / path),
            protocol_factory=lambda: MemoryProtocol(site),
            server_delay=0.0,
            **kw,
        )
        loop.inject_seeds(
            spark.createDataFrame([("https://h0.example/p0",)], ["url"])
        )
        loop.run(4)
        rows = sorted(
            (r.url, r.status, str(r.next_fetch_date), r.error_count,
             r.key, r.bucket, r.depth)
            for r in loop.read_frontier().collect()
        )
        snap = os.path.join(
            loop.table.path, f"v{loop.table.current_version():06d}"
        )
        per_bucket = {
            d: len(glob.glob(f"{snap}/{d}/*.parquet"))
            for d in os.listdir(snap) if d.startswith("bucket=")
        }
        return rows, per_bucket

    plain_rows, plain_files = run("f_plain")
    comp_rows, comp_files = run(
        "f_comp", compact_every=2, compact_max_files_per_bucket=1
    )
    assert comp_rows == plain_rows  # content untouched by maintenance
    # generation 4 compacts last, so every bucket sits at the target
    assert all(n <= 1 for n in comp_files.values()), comp_files
    assert sum(comp_files.values()) <= sum(plain_files.values())


@pytest.mark.slow
def test_recursive_crawl_50k_exactly_once_at_scale(spark):
    """The full topology cycle (crawler.flux:94-137 — seeds → frontier
    query → polite fetch → parse → filter → merge → re-query) run to
    FRONTIER EXHAUSTION on a 50k-page closed synthetic graph with the
    politeness machinery on, adaptive scheduling, dedup-on-merge and the
    bucket-partitioned (pruned-merge) frontier.

    The exactly-once assertions are the point: the graph's cross links
    re-discover already-crawled pages every generation, yet the sum of
    fetches across all generations must equal n_pages EXACTLY, and the
    final frontier must hold exactly n_pages rows, all FETCHED. The
    1M-page figure lives in SCALING.json (tools/scale_bench.py
    --recursive-crawl); this is its pytest-gated regression twin."""
    from tools.baseline_bench import bench_recursive_crawl

    r = bench_recursive_crawl(spark, n_pages=50_000, hosts=500, fanout=8)
    assert r["exactly_once"], r
    assert r["total_fetched"] == 50_000
    assert r["frontier_rows"] == 50_000
    assert r["frontier_fetched"] == 50_000
    # fanout-8 tree over 50k ids exhausts in ~7 content generations
    assert r["generations"] <= 10, r["generations"]


def test_crawl_archives_warc_per_generation(spark, tmp_path):
    """warc_dir archives each generation's successful fetches as
    .warc.gz (WARCHdfsBolt parity): after a 3-generation crawl, reading
    the archive back yields exactly the crawled site's payloads, and the
    per-generation prefixes partition the files."""
    import glob

    from incubator_stormcrawler_spark.sources.warc import read_warc

    site = build_site(2, 4)
    warc_dir = str(tmp_path / "warcs")
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        max_per_bucket=50,
        max_results=100,
        warc_dir=warc_dir,
    )
    seeds = spark.createDataFrame([("https://h0.example/p0",)], ["url"])
    loop.inject_seeds(seeds)
    loop.run(3)

    files = glob.glob(warc_dir + "/gen-*.warc.gz")
    assert files, "no warc files written"
    gens = {f.split("/")[-1].split("-")[1] for f in files}
    assert len(gens) >= 2  # several generations fetched something

    recs = read_warc(spark, warc_dir + "/*.warc.gz")
    archived = {
        (r.url, bytes(r.content).decode())
        for r in recs.select("url", "content").collect()
    }
    assert archived == {(u, body) for u, body in site.items()}


def test_failed_generation_retries_under_its_own_number(spark, tmp_path):
    """A generation that fails before its merge commits keeps its number:
    the in-process retry, like a restarted process, runs it again as
    gen-1, with the same batch id and WARC prefix. The archive is
    at-least-once: both attempts archived the page."""
    import glob

    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    class FlakyIndex(IndexTable):
        failures = 1

        def upsert(self, docs):
            if self.failures:
                self.failures -= 1
                raise RuntimeError("index unavailable")
            return super().upsert(docs)

    site = {"https://h0.example/a": "<html><body>alpha</body></html>"}
    warc_dir = str(tmp_path / "warcs")

    def make_loop():
        return CrawlLoop(
            spark,
            frontier_path=str(tmp_path / "frontier"),
            protocol_factory=lambda: MemoryProtocol(site),
            server_delay=0.0,
            index=FlakyIndex(str(tmp_path / "index")),
            warc_dir=warc_dir,
        )

    loop = make_loop()
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )
    with pytest.raises(RuntimeError, match="index unavailable"):
        loop.run_generation()
    assert loop.generation == make_loop().generation == 0
    assert loop.run_generation()["generation"] == 1
    assert loop.table.last_batch_id() == "gen-1"
    names = [f.split("/")[-1] for f in glob.glob(warc_dir + "/*.warc.gz")]
    assert len(names) == 2
    assert all(n.startswith("gen-00001-") for n in names), names


def test_crawl_indexes_docs_and_applies_deletions(spark, tmp_path):
    """The topology's terminal bolt pair, wired: parsed docs UPSERT into
    the IndexTable every generation (IndexerBolt), and a url that
    escalates to terminal ERROR is DELETED from the index via the
    deletion stream (DeletionBolt) — seeded here with a stale index doc
    for the url that will die."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    site = {
        "https://h0.example/p0":
            '<html><head><title>zero</title></head>'
            '<body><a href="https://h0.example/missing">x</a>ok</body></html>'
    }
    index = IndexTable(str(tmp_path / "index"))
    # stale doc for the soon-to-die url, as if indexed by an earlier crawl
    index.upsert(
        spark.createDataFrame(
            [("https://h0.example/missing", "old", "stale text")],
            ["url", "title", "text"],
        )
    )
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=index,
    )
    loop.inject_seeds(spark.createDataFrame([("https://h0.example/p0",)], ["url"]))
    stats = loop.run(6)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier["https://h0.example/missing"] == "ERROR"
    docs = {r.url: r.title for r in index.read(spark).collect()}
    assert docs == {"https://h0.example/p0": "zero"}  # indexed + deleted
    assert sum(s["index_deleted"] for s in stats) == 1


def test_crawl_with_log_structured_index_matches_snapshot(
    spark, tmp_path
):
    """The segment-log index through the FULL loop (upserts + the
    deletion stream + the compact_every cadence): final index content
    identical to what the former snapshot layout gave (pinned below
    from a run of that layout), per-generation commits are O(batch)
    segment appends, and the cadenced compaction bounds the segment
    count."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    site = {
        "https://h0.example/p0":
            '<html><head><title>zero</title></head>'
            '<body><a href="https://h1.example/p1">a</a>'
            '<a href="https://h0.example/missing">x</a>ok</body></html>',
        "https://h1.example/p1":
            "<html><head><title>one</title></head><body>b</body></html>",
    }

    def run(idx, path):
        loop = CrawlLoop(
            spark,
            frontier_path=str(tmp_path / path),
            protocol_factory=lambda: MemoryProtocol(site),
            server_delay=0.0,
            index=idx,
            compact_every=2,
        )
        loop.inject_seeds(
            spark.createDataFrame([("https://h0.example/p0",)], ["url"])
        )
        loop.run(6)
        return {r.url: r.title for r in idx.read(spark).collect()}

    log_idx = IndexTable(str(tmp_path / "log"))
    log = run(log_idx, "f_log")
    assert log == {
        "https://h0.example/p0": "zero", "https://h1.example/p1": "one",
    }
    # the cadence kept the log bounded (compacted at gens 2/4/6)
    assert len(log_idx.partition_files()) <= 3


def test_canonicalize_redirects_keys_index_by_terminal_url(spark, tmp_path):
    """canonicalize_redirects=True completes the RedirectionBolt +
    `_redirTo` story (bolt/FetcherBolt.java:706-746,
    external/tika/.../RedirectionBolt.java:54): a 301 -> meta-refresh
    chain a -> b -> c accumulates hops in the loop's redirect side store
    across generations, and the index ends up keyed by the TERMINAL url
    only — the meta-refresh stub page b re-keys onto c but loses to c's
    real doc (hops-0 preference), and neither a nor b ever holds an
    index key of its own."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    site = {
        # protocol-level 301: no doc of its own
        "https://h0.example/a": (301, "https://h0.example/b"),
        # meta refresh: parses as a thin doc with a redirect target
        "https://h0.example/b":
            '<html><head><title>stub</title>'
            '<meta http-equiv="refresh" content="0;url=/c"></head></html>',
        "https://h0.example/c":
            "<html><head><title>real</title></head><body>money page</body>"
            "</html>",
    }
    index = IndexTable(str(tmp_path / "index"))
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=index,
        canonicalize_redirects=True,
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )
    loop.run(4)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert frontier["https://h0.example/a"] == "REDIRECTION"
    assert frontier["https://h0.example/b"] == "REDIRECTION"
    assert frontier["https://h0.example/c"] == "FETCHED"
    docs = {r.url: r.title for r in index.read(spark).collect()}
    assert docs == {"https://h0.example/c": "real"}


def test_canonicalize_redirects_stub_survives_until_terminal_fetched(
    spark, tmp_path
):
    """The hops-0 preference is per-batch, not a blanket shunt: while the
    meta-refresh TARGET is still unfetched, the stub's doc (the only
    content known for the chain) indexes under the terminal key, and the
    next generation's real fetch REPLACES it in place — same key, newer
    doc wins, no duplicate."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    site = {
        "https://h0.example/b":
            '<html><head><title>stub</title>'
            '<meta http-equiv="refresh" content="0;url=/c"></head></html>',
        "https://h0.example/c":
            "<html><head><title>real</title></head><body>x</body></html>",
    }
    index = IndexTable(str(tmp_path / "index"))
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=index,
        canonicalize_redirects=True,
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/b",)], ["url"])
    )
    loop.run(1)  # only the stub is known; it carries the chain's content
    docs = {r.url: r.title for r in index.read(spark).collect()}
    assert docs == {"https://h0.example/c": "stub"}
    loop.run(1)  # the real page replaces the stub under the same key
    docs = {r.url: r.title for r in index.read(spark).collect()}
    assert docs == {"https://h0.example/c": "real"}


def test_rank_prioritized_crawl_focuses_on_endorsed_host(spark, tmp_path):
    """OPIC-style focused crawl (rank_priority=True): every host's pages
    link to hub.example, so once generation 1 observes the link graph,
    PageRank puts the hub first and the bucket budget (rank_max_buckets=1)
    spends generation 2 ENTIRELY on the hub — the low-rank leaf hosts'
    due pages wait. The full closed graph still converges eventually."""
    hosts = [f"leaf{i}.example" for i in range(4)]
    site = {}
    # seed page links to every leaf's p0 and the hub root
    seed_links = [f"https://{h}/p0" for h in hosts] + ["https://hub.example/p0"]
    site["https://seed.example/p0"] = (
        "<html><body>"
        + "".join(f'<a href="{u}">x</a>' for u in seed_links)
        + "</body></html>"
    )
    # every leaf p0 endorses the hub and one local page
    for h in hosts:
        site[f"https://{h}/p0"] = (
            f'<html><body><a href="https://hub.example/p0">hub</a>'
            f'<a href="https://{h}/p1">next</a></body></html>'
        )
        site[f"https://{h}/p1"] = "<html><body>leaf leaf</body></html>"
    site["https://hub.example/p0"] = (
        '<html><body><a href="https://hub.example/p1">h1</a></body></html>'
    )
    site["https://hub.example/p1"] = "<html><body>hub hub</body></html>"

    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        max_per_bucket=10,
        max_results=100,
        rank_priority=True,
        rank_max_buckets=1,
    )
    seeds = spark.createDataFrame([("https://seed.example/p0",)], ["url"])
    loop.inject_seeds(seeds)

    loop.run_generation()   # gen 1: plain top-k (no edges yet), fetch seed
    loop.run_generation()   # gen 2: ranked — one bucket only
    f2 = {
        r.url: r.status for r in loop.read_frontier().collect()
        if r.status == "FETCHED"
    }
    gen2_hosts = {u.split("/")[2] for u in f2} - {"seed.example"}
    # the single ranked bucket went to the hub (every observed edge
    # endorses it); no leaf page has been fetched yet
    assert gen2_hosts == {"hub.example"}, f2
    # and the crawl still completes: leaves catch up in later generations
    # (one ranked bucket per generation: 4 leaf p0s + 4 leaf p1s + hub p1,
    # interleaved by rank/tie-break — give it room)
    loop.run(12)
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert set(frontier) == set(site)
    assert all(st == "FETCHED" for st in frontier.values())


def test_forecast_sizing_caps_generation_at_politeness_ceiling(spark, tmp_path):
    """forecast_sizing=True sizes each host's generation share by
    frontier.fetch_forecast — least(due backlog, floor(horizon/delay)+1)
    — instead of max_per_bucket alone, so a delay-bound host is handed
    exactly the prefix it can politely fetch inside the horizon and the
    rest is DEFERRED (never dropped): later generations drain it at the
    same ceiling. Mirrors the reference's FetcherBolt queue-hold
    (FetcherBolt.java:191-245) at planning time instead of fetch time."""
    site = {
        f"https://h{h}.example/p{p}": "<html>x</html>"
        for h in range(3)
        for p in range(10)
    }
    # h0: 10 s crawl-delay, 30 s horizon -> ceiling floor(30/10)+1 = 4
    # h1: robots 'Crawl-delay: 0' -> no politeness bound (capacity = backlog)
    # h2: absent from the dim -> server_delay (0.0) default -> no bound
    delays = spark.createDataFrame(
        [("h0.example", 10.0), ("h1.example", 0.0)],
        "key string, crawl_delay_s double",
    )
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        max_per_bucket=10,
        max_results=100,
        forecast_sizing=True,
        forecast_horizon_s=30.0,
        forecast_delays=delays,
    )
    loop.inject_seeds(spark.createDataFrame([(u,) for u in site], ["url"]))

    c1 = loop.run_generation()
    assert c1["batch"] == 24 and c1["fetched_ok"] == 24  # 4 + 10 + 10
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    h0_done = [u for u, s in frontier.items()
               if s == "FETCHED" and u.startswith("https://h0")]
    assert len(h0_done) == 4  # the politeness-feasible prefix, exactly

    # deferred URLs drain at the ceiling in later generations
    c2 = loop.run_generation()
    assert c2["batch"] == 4 and c2["fetched_ok"] == 4
    c3 = loop.run_generation()
    assert c3["batch"] == 2 and c3["fetched_ok"] == 2
    frontier = {r.url: r.status for r in loop.read_frontier().collect()}
    assert set(frontier) == set(site)
    assert all(s == "FETCHED" for s in frontier.values())


def test_forecast_sizing_backfills_global_cap_from_unconstrained_hosts(
    spark, tmp_path
):
    """The global max_results cap is applied AFTER the forecast filter
    (r9 advice fix): slots a delay-bound host cannot use are backfilled
    by unconstrained hosts' due URLs instead of being lost. Here h0's
    URLs sort first in the global order but its forecast is 4; capping
    BEFORE the filter would take h0's 10 + h1's 2 and then shrink to 6 —
    the fixed order takes h0's feasible 4 and backfills h1 to a full
    12-row generation."""
    site = {
        f"https://h{h}.example/p{p}": "<html>x</html>"
        for h in range(2)
        for p in range(10)
    }
    delays = spark.createDataFrame(
        [("h0.example", 10.0)], "key string, crawl_delay_s double"
    )
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        max_per_bucket=10,
        max_results=12,
        forecast_sizing=True,
        forecast_horizon_s=30.0,
        forecast_delays=delays,
    )
    loop.inject_seeds(spark.createDataFrame([(u,) for u in site], ["url"]))

    c1 = loop.run_generation()
    assert c1["batch"] == 12 and c1["fetched_ok"] == 12  # 4 (h0) + 8 (h1)
    fetched = {r.url for r in loop.read_frontier().collect()
               if r.status == "FETCHED"}
    assert len([u for u in fetched if u.startswith("https://h0")]) == 4
    assert len([u for u in fetched if u.startswith("https://h1")]) == 8


def test_redirect_side_stores_stay_distinct_and_match_full_resolve(
    spark, tmp_path
):
    """r11 verdict item 4: (1) the redirect edge store stays GLOBALLY
    distinct even when the same hop is re-observed across generations
    (now_fn advances 2 days/gen, past the 1-day REDIRECTION interval, so
    the 301 source refetches and re-reports its hop every generation);
    (2) the incrementally-maintained resolved map equals a from-scratch
    redirect_resolve over the edge store after every generation-pattern
    (fresh chain, extension, steady-state re-observation)."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable
    from incubator_stormcrawler_spark.operators.linkrank import (
        redirect_resolve,
    )

    site = {
        "https://h0.example/a": (301, "https://h0.example/b"),
        "https://h0.example/b": (301, "https://h0.example/c"),
        "https://h0.example/c":
            "<html><head><title>real</title></head><body>x</body></html>",
    }
    index = IndexTable(str(tmp_path / "index"))
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=index,
        canonicalize_redirects=True,
        now_fn=lambda gen: f"2024-01-{1 + 2 * gen:02d} 00:00:00",
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )
    loop.run(5)  # a refetches ~every generation: hop a->b re-observed
    edges = loop._redirect_edge_store.read(spark)
    rows = [(r.src, r.dst) for r in edges.collect()]
    assert len(rows) == len(set(rows)) == 2  # one row per observed hop
    # the map the indexer consumed == full resolve over the store
    got = {
        r.url: (r.target, r.hops, r.resolved)
        for r in loop._read_resolved_map().collect()
    }
    want = {
        r.url: (r.target, r.hops, r.resolved)
        for r in redirect_resolve(edges, max_hops=64).collect()
    }
    assert got == want
    assert got["https://h0.example/a"] == ("https://h0.example/c", 2, 1)
    docs = {r.url: r.title for r in index.read(spark).collect()}
    assert docs == {"https://h0.example/c": "real"}


def test_resolved_map_steady_state_writes_zero_bytes(spark, tmp_path):
    """r12 verdict item 2, in the loop: a steady-state generation that
    only RE-observes known hops advances the resolved map to a fresh
    committed snapshot whose every bucket is a HARD LINK to the previous
    version's files — the write cost tracks the delta (here: zero), not
    the map. The first generation (real delta) writes real bytes."""
    import os

    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    site = {
        "https://h0.example/a": (301, "https://h0.example/b"),
        "https://h0.example/b":
            "<html><head><title>real</title></head><body>x</body></html>",
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=IndexTable(str(tmp_path / "index")),
        canonicalize_redirects=True,
        # 2-day ticks: past the 1-day REDIRECTION interval, so the 301
        # source refetches and RE-observes its hop every generation
        now_fn=lambda gen: f"2024-01-{1 + 2 * gen:02d} 00:00:00",
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )

    def snapshot_inodes():
        store = loop._resolved_store
        v, p = store.current_version(), store.snapshot()
        inodes = set()
        for name in os.listdir(p):
            if name.startswith("bucket="):
                d = os.path.join(p, name)
                inodes |= {
                    os.stat(os.path.join(d, f)).st_ino
                    for f in os.listdir(d) if f.endswith(".parquet")
                }
        return v, inodes

    loop.run_generation()  # discovers a
    loop.run_generation()  # fetches a: observes the hop, map v1
    v1, ino1 = snapshot_inodes()
    loop.run_generation()  # fetches b; a due again next tick
    loop.run_generation()  # re-observation generation(s)
    v2, ino2 = snapshot_inodes()
    assert v2 > v1
    assert ino2 == ino1  # every bucket carried forward by identity
    got = {r.url: r.target for r in loop._read_resolved_map().collect()}
    assert got == {"https://h0.example/a": "https://h0.example/b"}


def test_host_edge_store_stays_distinct_across_generations(
    spark, tmp_path
):
    """The rank_priority host-edge store used to append per-generation
    distinct rows, duplicating re-observed edges across generations
    (double-weighting them in the host PageRank); the delta append keeps
    it globally distinct while the focused crawl still converges."""
    site = build_site(2, 4)
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        rank_priority=True,
        # 2 days/gen: FETCHED pages refetch and re-report their outlinks
        now_fn=lambda gen: f"2024-01-{1 + 2 * gen:02d} 00:00:00",
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/p0",)], ["url"])
    )
    loop.run(5)
    edges = [
        (r.src, r.dst)
        for r in loop._host_edge_store.read(spark).collect()
    ]
    assert len(edges) == len(set(edges)) == 2  # h0<->h1, once each


def test_crawl_compacts_edge_stores_on_cadence(spark, tmp_path):
    """compact_every also bounds the side stores' file counts: delta
    appends leave one segment per new-edge generation; the cadence folds
    them into one without changing content, and a store that is already
    one segment is left alone."""
    import glob

    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    site = {
        "https://h0.example/a": (301, "https://h0.example/b"),
        "https://h0.example/b":
            '<html><body><a href="https://h1.example/c">x</a></body></html>',
        "https://h1.example/c": (301, "https://h1.example/d"),
        "https://h1.example/d": "<html><body>end</body></html>",
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        canonicalize_redirects=True,
        rank_priority=True,
        index=IndexTable(str(tmp_path / "index")),
        compact_every=2,
        compact_max_files_per_bucket=1,
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )
    loop.run(4)
    stores = (loop._redirect_edge_store, loop._host_edge_store)
    for store in stores:
        files = glob.glob(f"{store.snapshot()}/seg=*/*.parquet")
        assert 1 <= len(files) <= 1, (store.path, files)
    edges = {
        (r.src, r.dst)
        for r in loop._redirect_edge_store.read(spark).collect()
    }
    assert edges == {
        ("https://h0.example/a", "https://h0.example/b"),
        ("https://h1.example/c", "https://h1.example/d"),
    }
    # the site is exhausted: the next cadence finds one-segment stores
    # and commits nothing to them
    versions = [store.current_version() for store in stores]
    loop.run(2)
    assert [store.current_version() for store in stores] == versions


def test_side_store_compaction_crash_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """Folding a side store's segments is a replace commit: a crash
    before its pointer flips leaves every store reading the rows it held
    before the fold, in the same segments, and the generation, which
    had not committed its merge, retries under its own number and folds
    each store to one segment with the same rows."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable
    from incubator_stormcrawler_spark.streaming import frontier_table as ftm

    site = {
        "https://h0.example/a": (301, "https://h0.example/b"),
        "https://h1.example/x":
            '<html><body><a href="https://h2.example/y">y</a></body></html>',
        "https://h0.example/b":
            '<html><body><a href="https://h3.example/z">z</a></body></html>',
        "https://h2.example/y": (301, "https://h2.example/w"),
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        canonicalize_redirects=True,
        rank_priority=True,
        index=IndexTable(str(tmp_path / "index")),
        compact_every=2,
    )
    loop.inject_seeds(spark.createDataFrame(
        [("https://h0.example/a",), ("https://h1.example/x",)], ["url"]
    ))
    stores = (loop._host_edge_store, loop._redirect_edge_store)
    # gen 1 appends one segment to each store, gen 2 a second
    want = [
        {("h1.example", "h2.example"), ("h0.example", "h3.example")},
        {
            ("https://h0.example/a", "https://h0.example/b"),
            ("https://h2.example/y", "https://h2.example/w"),
        },
    ]

    def state():
        return [
            (
                len(store.partition_files()),
                {
                    (r.src, r.dst)
                    for r in store.read(spark).collect()
                },
            )
            for store in stores
        ]

    pointers = {store._pointer for store in stores}
    real_replace, real_compact = os.replace, ftm.SegmentLog.compact
    folding = []

    def dying_replace(src, dst):
        if folding and dst in pointers:
            raise OSError("simulated crash before pointer flip")
        return real_replace(src, dst)

    def compact(log, *args):
        folding.append(True)
        try:
            return real_compact(log, *args)
        finally:
            folding.clear()

    monkeypatch.setattr(ftm.os, "replace", dying_replace)
    monkeypatch.setattr(ftm.SegmentLog, "compact", compact)
    loop.run_generation()
    with pytest.raises(OSError, match="simulated crash"):
        loop.run_generation()
    assert loop.generation == 1
    assert loop.table.last_batch_id() == "gen-1"
    assert state() == [(2, rows) for rows in want]

    monkeypatch.setattr(ftm.os, "replace", real_replace)
    assert loop.run_generation()["generation"] == 2
    assert loop.table.last_batch_id() == "gen-2"
    assert state() == [(1, rows) for rows in want]


def test_near_dedup_drops_cross_generation_near_duplicate(spark, tmp_path):
    """r11 verdict item 6 — incremental near-dup IN the loop: page B,
    discovered a generation AFTER near-identical page A was indexed, is
    dropped from the index stream by banding against the accumulated
    signature store (only the batch ever shingles); a genuinely
    different page C indexes normally; a REFETCH of A does not match
    itself (stale store signatures for re-ingested docs are dropped) and
    stays indexed; and the store holds signatures for KEPT docs only."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    common = ("alpha beta gamma delta epsilon zeta eta theta "
              "iota kappa lam mu nu xi omicron pi " * 4)
    site = {
        "https://h0.example/a": (
            f"<html><body><p>{common}</p>"
            '<a href="https://h1.example/b">x</a>'
            '<a href="https://h2.example/c">y</a></body></html>'
        ),
        "https://h1.example/b": f"<html><body><p>{common}</p>x y</body></html>",
        "https://h2.example/c": (
            "<html><body>totally different tiny page about turnips"
            " and quarterly parsnip futures</body></html>"
        ),
    }
    index = IndexTable(str(tmp_path / "index"))
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=index,
        near_dedup=True,
        near_dedup_min_sim=0.6,
        now_fn=lambda gen: f"2024-01-{1 + 2 * gen:02d} 00:00:00",
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )
    c1 = loop.run_generation()          # fetches + indexes A
    assert c1["near_dups_dropped"] == 0
    c2 = loop.run_generation()          # fetches B (near-dup) and C
    assert c2["near_dups_dropped"] == 1
    urls = {r.url for r in index.read(spark).collect()}
    assert "https://h0.example/a" in urls
    assert "https://h2.example/c" in urls
    assert "https://h1.example/b" not in urls
    # refetch of A (2 days later) must not self-match and stays indexed
    c3 = loop.run_generation()
    assert c3["near_dups_dropped"] in (0, 1)  # B refetches and re-drops
    urls = {r.url for r in index.read(spark).collect()}
    assert "https://h0.example/a" in urls
    # store: kept docs only, one signature set per doc (first-wins)
    from pyspark.sql import functions as F

    sigs = loop._sig_store.read(spark)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in sigs.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert "https://h1.example/b" not in per_doc
    assert set(per_doc) == {"https://h0.example/a", "https://h2.example/c"}
    assert all(n == 8 for n in per_doc.values())
    # band store rides alongside: same doc set, num_hashes/band_rows
    # band keys per doc — the stored-bands match path never recomputes
    # the store's banding groupBy after generation 1
    bands = loop._band_store.read(spark)
    band_docs = {r.doc_id for r in bands.select("doc_id").distinct().collect()}
    assert band_docs == set(per_doc)


def test_near_dedup_reingest_keeps_first_signatures(spark, tmp_path):
    """r12 verdict 'What's missing' item 3, decided and pinned: the
    signature store is FIRST-OBSERVATION-WINS. A re-crawled page whose
    content changed (1) does not match itself and stays in the stream,
    (2) does NOT refresh its stored signatures — so a later doc
    near-duplicating the page's NEW content is NOT dropped (the
    documented blind spot), while one near-duplicating the ORIGINAL
    content still is. The alternative — replace-by-doc_id — would be an
    O(store) in-place merge every generation, the exact cost shape the
    delta-bounded store exists to avoid."""
    from pyspark.sql import functions as F

    text_v1 = ("alpha beta gamma delta epsilon zeta eta theta "
               "iota kappa lam mu nu xi omicron pi " * 4)
    text_v2 = ("uno dos tres cuatro cinco seis siete ocho "
               "nueve diez once doce trece catorce quince " * 4)
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol({}),
        server_delay=0.0,
        near_dedup=True,
        near_dedup_min_sim=0.6,
    )

    def docs(*rows):
        return spark.createDataFrame(list(rows), ["url", "text"])

    # gen 1: page A (v1 content) ingests and stores
    with loop._generation_scope():
        kept, dropped = loop._near_dedup_filter(docs(("urlA", text_v1)))
        assert (kept.count(), dropped) == (1, 0)
    sigs_v1 = {(r.h, r.v) for r in loop._sig_store.read(spark).where("doc_id = 'urlA'").collect()}
    # gen 2: A re-crawled with CHANGED content — kept (no self-match),
    # store signatures unchanged (first-wins)
    with loop._generation_scope():
        kept, dropped = loop._near_dedup_filter(docs(("urlA", text_v2)))
        assert (kept.count(), dropped) == (1, 0)
    store = loop._sig_store.read(spark)
    assert {(r.h, r.v) for r in store.where("doc_id = 'urlA'").collect()} \
        == sigs_v1
    assert store.groupBy("doc_id").count().where(
        F.col("count") != 8).count() == 0
    # gen 3: D duplicates A's NEW content — the blind spot: NOT dropped;
    # E duplicates A's ORIGINAL content — still dropped
    with loop._generation_scope():
        kept, dropped = loop._near_dedup_filter(
            docs(("urlD", text_v2 + " extra"), ("urlE", text_v1 + " extra"))
        )
        kept_urls = {r.url for r in kept.collect()}
    assert dropped == 1
    assert kept_urls == {"urlD"}
    # once D itself is stored, the blind window closes: a later copy of
    # the new content near-dups against D
    with loop._generation_scope():
        kept, dropped = loop._near_dedup_filter(docs(("urlF", text_v2)))
        assert (dropped, {r.url for r in kept.collect()}) == (1, set())


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _persistent_rdds(spark) -> set:
    return set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


def test_generation_storage_is_bounded_across_generations(spark, tmp_path):
    """The r12 leak finding, applied to the loop: checkpoint blocks are
    invisible to DataFrame.unpersist and do not free on GC, and operators
    cache relations the loop cannot reach (link_rank's node and edge
    caches), so a long crawl accumulates storage without bound unless
    each generation releases what it made. Run a feature-maximal loop
    (canonicalize + near-dedup + rank priority + cadence compaction) and
    assert after EVERY generation: the CacheManager holds no entry the
    generation made, and the only persistent RDDs the loop added are the
    live host-rank table's."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    site = {
        "https://h0.example/a": (301, "https://h0.example/b"),
        "https://h0.example/b":
            '<html><body>alpha beta gamma delta epsilon zeta eta '
            '<a href="https://h1.example/c">x</a></body></html>',
        "https://h1.example/c":
            "<html><body>a wholly different page body</body></html>",
    }
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=IndexTable(str(tmp_path / "index")),
        canonicalize_redirects=True,
        near_dedup=True,
        rank_priority=True,
        compact_every=2,
        now_fn=lambda gen: f"2024-01-{1 + 2 * gen:02d} 00:00:00",
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )
    rdds_before = _persistent_rdds(spark)
    for _ in range(5):
        entries_before = _cache_entries(spark)
        loop.run_generation()
        assert _cache_entries(spark) == entries_before, loop.generation
        rank_ids = set(loop._ranks_ckpt._ids) if loop._ranks_ckpt else set()
        assert _persistent_rdds(spark) - rdds_before == rank_ids, (
            loop.generation
        )
    # generations 2-5 ranked hosts: the rank table is really held
    assert rank_ids


def test_failed_generation_leaves_no_storage(spark, tmp_path):
    """A generation that raises mid-way (here the index upsert) releases
    every cache and checkpoint it made, so a retry starts clean; a frame
    the caller cached lazily BEFORE the generation, which the generation
    materializes first (forecast_delays under forecast_sizing), stays
    cached with its blocks."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    class FailingIndex(IndexTable):
        def upsert(self, docs):
            raise RuntimeError("index unavailable")

    site = {
        "https://h0.example/a":
            '<html><body>alpha <a href="https://h1.example/b">b</a>'
            "</body></html>",
        "https://h1.example/b": "<html><body>beta</body></html>",
    }
    delays = spark.createDataFrame(
        [("h0.example", 0.0)], "key string, crawl_delay_s double"
    ).cache()
    loop = CrawlLoop(
        spark,
        frontier_path=str(tmp_path / "frontier"),
        protocol_factory=lambda: MemoryProtocol(site),
        server_delay=0.0,
        index=FailingIndex(str(tmp_path / "index")),
        forecast_sizing=True,
        forecast_delays=delays,
    )
    loop.inject_seeds(
        spark.createDataFrame([("https://h0.example/a",)], ["url"])
    )
    try:
        entries_before = _cache_entries(spark)
        rdds_before = _persistent_rdds(spark)
        with pytest.raises(RuntimeError, match="index unavailable"):
            loop.run_generation()
        assert _cache_entries(spark) == entries_before
        cache_manager = spark._jsparkSession.sharedState().cacheManager()
        entry = cache_manager.lookupCachedData(delays._jdf)
        assert entry.isDefined()
        builder = entry.get().cachedRepresentation().cacheBuilder()
        assert builder.isCachedColumnBuffersLoaded()
        delays_rdd = builder.cachedColumnBuffers().id()
        assert _persistent_rdds(spark) - {delays_rdd} == rdds_before
    finally:
        delays.unpersist(blocking=True)


def test_generation_width_follows_fetch_slots_not_shuffle_partitions(
    spark, tmp_path
):
    """The fetch exchange is sized to the fetch slots (defaultParallelism),
    not to spark.sql.shuffle.partitions. Every intermediate the generation
    caches keeps its plan's last exchange width (cached plans keep their
    output partitioning), so with a shuffle-partition-sized exchange a
    generation's task count grows with the setting; sized to the slots it
    stays flat."""
    from incubator_stormcrawler_spark.protocol.fetch import fetch

    site = build_site(6, 4)
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    tasks = {}
    try:
        for width in (32, 128):
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
            batch = spark.createDataFrame(
                [(u, u.split("/")[2]) for u in site], ["url", "key"]
            )
            out = fetch(batch, lambda: MemoryProtocol(site), server_delay=0.0,
                        respect_robots=False)
            assert out.rdd.getNumPartitions() == slots

            loop = CrawlLoop(
                spark,
                frontier_path=str(tmp_path / f"frontier{width}"),
                protocol_factory=lambda: MemoryProtocol(site),
                server_delay=0.0,
            )
            loop.inject_seeds(spark.createDataFrame(
                [(u,) for u in site if u.endswith("/p0")], ["url"]
            ))
            group = f"generation-width-{width}"
            sc.setJobGroup(group, "one generation")
            try:
                assert loop.run_generation()["batch"] == 6
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = sc.statusTracker()
            stage_ids = {
                s for j in tracker.getJobIdsForGroup(group)
                for s in tracker.getJobInfo(j).stageIds
            }
            tasks[width] = sum(
                tracker.getStageInfo(s).numCompletedTasks for s in stage_ids
                if tracker.getStageInfo(s) is not None
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert tasks[128] <= 1.25 * tasks[32], tasks
