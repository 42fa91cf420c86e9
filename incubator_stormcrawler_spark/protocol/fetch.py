"""Polite distributed fetching — FetcherBolt
(core/.../bolt/FetcherBolt.java:69; queues :251-302, delay :191-245,
robots :525-634, emit :706-782) re-expressed for Spark's execution model.

Design: ``politeness_partition`` hashes the batch by key into one
partition per fetch slot, co-locating every URL of a politeness key, then
``fetch_partition`` runs inside ``mapInPandas`` / ``mapPartitions``
enforcing, per key: serial fetching, crawl-delay
(robots ``Crawl-delay`` adopted when ≤ max_crawl_delay, else the queue is
skipped — FetcherBolt.java:592-634), and robots allow/deny (deny →
status ERROR with ``error.cause=robots.txt``, :525-590). Keys interleave
within the partition so delay-waiting on one host overlaps with fetching
others — the same effect as the reference's round-robin queue scan
(:385-435), implemented as a priority queue on next-allowed-time.

Politeness is per-key state; Spark's shuffle guarantees a key never spans
partitions, so per-partition state IS global state for that key — this is
the crux of making politeness correct on a 1000-executor cluster.

``Protocol`` implementations are pluggable (ProtocolFactory.java:27):
``MemoryProtocol`` (tests/local), ``FileProtocol`` (file:// fixtures),
``HttpProtocol`` (urllib; gated — no network in the build sandbox).
"""

from __future__ import annotations

import heapq
import re
import time
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from .robots import ALLOW_ALL, RobotsCache


@dataclass
class ProtocolResponse:
    """core/.../protocol/ProtocolResponse.java:80-88."""

    content: bytes | None
    status_code: int
    metadata: dict[str, list[str]] = field(default_factory=dict)


class Protocol:
    """core/.../protocol/Protocol.java:41-57."""

    def get_protocol_output(self, url: str, metadata: dict) -> ProtocolResponse:
        raise NotImplementedError

    def get_robots(self, host: str) -> tuple[int, str | None]:
        """(status_code, body) for http(s)://host/robots.txt."""
        return 404, None


class MemoryProtocol(Protocol):
    """In-memory site for tests/local crawls (MemorySpout-style loopback):
    ``site``: url -> (status_code, bytes | str) or url -> bytes."""

    def __init__(self, site: dict, robots: dict | None = None):
        self.site = site
        self.robots = robots or {}
        self.fetch_log: list[tuple[float, str]] = []

    def get_protocol_output(self, url, metadata):
        entry = self.site.get(url)
        self.fetch_log.append((time.monotonic(), url))
        if entry is None:
            return ProtocolResponse(None, 404)
        if isinstance(entry, tuple):
            code, body = entry
        else:
            code, body = 200, entry
        if 300 <= code < 400 and isinstance(body, str):
            # redirect: body slot holds the Location target
            return ProtocolResponse(None, code, {"_redirTo": [body]})
        if isinstance(body, str):
            body = body.encode()
        return ProtocolResponse(body, code)

    def get_robots(self, host):
        body = self.robots.get(host)
        return (200, body) if body is not None else (404, None)


class SyntheticGraphProtocol(Protocol):
    """Closed synthetic web graph computed FROM the url — no site dict to
    serialize, so multi-million-page crawls ship only (n_pages, hosts,
    fanout) to the executors. Page i lives at
    ``https://h{i % hosts}.example/p{i}`` and links to its tree children
    ``fanout*i + 1 .. fanout*i + fanout`` (every id < n_pages is some
    node's child, so a crawl seeded at p0 reaches the WHOLE graph and
    exhausts after ~log_fanout(n) generations) plus one deterministic
    cross link ``(7i + 3) % n_pages`` that re-discovers already-crawled
    pages — the duplicate pressure the frontier merge must absorb without
    ever re-fetching. The reference analog is the MemorySpout loopback
    fixture; this is its scale form."""

    def __init__(self, n_pages: int, hosts: int = 1000, fanout: int = 4):
        self.n_pages = n_pages
        self.hosts = hosts
        self.fanout = fanout

    def _url(self, i: int) -> str:
        return f"https://h{i % self.hosts}.example/p{i}"

    def get_protocol_output(self, url, metadata):
        m = re.search(r"^https://h(\d+)\.example/p(\d+)$", url)
        if not m:
            return ProtocolResponse(None, 404)
        i = int(m.group(2))
        if not (0 <= i < self.n_pages) or url != self._url(i):
            return ProtocolResponse(None, 404)
        targets = [
            self.fanout * i + j
            for j in range(1, self.fanout + 1)
            if self.fanout * i + j < self.n_pages
        ] + [(7 * i + 3) % self.n_pages]
        links = "".join(f'<a href="{self._url(c)}">c{c}</a>' for c in targets)
        html = (
            f"<html><head><title>t{i}</title></head>"
            f"<body>{links}<p>body text {i}</p></body></html>"
        )
        return ProtocolResponse(html.encode(), 200)


class FileProtocol(Protocol):
    """file:// fetches (core/.../protocol/file/FileProtocol.java)."""

    def get_protocol_output(self, url, metadata):
        path = urlsplit(url).path
        try:
            with open(path, "rb") as f:
                return ProtocolResponse(f.read(), 200)
        except FileNotFoundError:
            return ProtocolResponse(None, 404)
        except OSError as e:
            return ProtocolResponse(None, 500, {"error.cause": [str(e)]})


class HttpProtocol(Protocol):
    """urllib-based HTTP protocol with content limit + trim metadata
    (okhttp/HttpProtocol.java:78,368-426 semantics: partial content keeps
    ``http.trimmed``/``http.trimmed.reason``)."""

    def __init__(self, content_limit: int = 1 << 20, timeout: float = 10.0,
                 agent: str = "stormcrawler-spark"):
        self.content_limit = content_limit
        self.timeout = timeout
        self.agent = agent

    def _opener(self):
        # Do NOT follow redirects: the reference protocols surface 3xx to
        # the crawl loop so the target is re-discovered through URL filters,
        # robots, and per-host politeness (okhttp/HttpProtocol.java builds
        # the client with followRedirects(false)). urllib's default opener
        # silently follows, which would attribute the target's content to
        # the source URL and bypass all those checks.
        import urllib.request

        class _NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, req, fp, code, msg, headers, newurl):
                return None

        return urllib.request.build_opener(_NoRedirect)

    def get_protocol_output(self, url, metadata):
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, headers={"User-Agent": self.agent})
        try:
            with self._opener().open(req, timeout=self.timeout) as resp:
                body = resp.read(self.content_limit + 1)
                md = {
                    "fetch.statusCode": [str(resp.status)],
                    "_request.time_": [str(int(time.time() * 1000))],
                }
                for k, v in resp.headers.items():
                    md.setdefault(f"http.{k.lower()}", []).append(v)
                if len(body) > self.content_limit:
                    body = body[: self.content_limit]
                    md["http.trimmed"] = ["true"]
                    md["http.trimmed.reason"] = ["LENGTH"]
                return ProtocolResponse(body, resp.status, md)
        except urllib.error.HTTPError as e:
            md = {"fetch.statusCode": [str(e.code)]}
            location = e.headers.get("Location") if e.headers else None
            if 300 <= e.code < 400 and location:
                # surface the target so status merge discovers it
                # (MemoryProtocol does the same; FetcherBolt.java:706-746)
                from urllib.parse import urljoin

                md["_redirTo"] = [urljoin(url, location)]
            return ProtocolResponse(None, e.code, md)
        except Exception as e:
            return ProtocolResponse(None, -1, {"error.cause": [str(e)]})

    def get_robots(self, host):
        import urllib.error
        import urllib.request

        try:
            with urllib.request.urlopen(
                f"http://{host}/robots.txt", timeout=self.timeout
            ) as resp:
                return resp.status, resp.read(1 << 18).decode("utf-8", "replace")
        except urllib.error.HTTPError as e:
            return e.code, None
        except Exception:
            return 500, None


class DelegatorProtocol(Protocol):
    """Route each fetch to a sub-protocol by metadata/regex rules, first
    match wins (core/.../protocol/DelegatorProtocol.java:70, doc :43-69).

    ``rules``: ordered [(predicate, protocol)] where predicate takes
    (url, metadata) → bool; ``default`` handles the rest. The reference's
    special robots.txt trigger maps to a predicate on the URL path."""

    def __init__(self, rules, default: Protocol):
        self.rules = rules
        self.default = default

    def _pick(self, url: str, metadata: dict) -> Protocol:
        for predicate, proto in self.rules:
            if predicate(url, metadata):
                return proto
        return self.default

    def get_protocol_output(self, url, metadata):
        return self._pick(url, metadata or {}).get_protocol_output(url, metadata)

    def get_robots(self, host):
        return self.default.get_robots(host)


def status_from_http_code(code: int) -> str:
    """HTTP code → Status (persistence/Status.java fromHTTPCode +
    FetcherBolt.java:702-746).

    All non-2xx/3xx codes — including 404/410 — are retryable FETCH_ERROR;
    terminality is governed by the error_count escalation in
    ``merge_status_updates`` (max.fetch.errors), never decided here. A
    transient 404 must not permanently blacklist a URL.
    """
    if code == 200:
        return "FETCHED"
    if code == 304:
        return "FETCHED"  # not modified — still a successful visit
    if 300 <= code < 400:
        return "REDIRECTION"
    return "FETCH_ERROR"  # 4xx / 5xx / -1 connection errors → retryable


@dataclass
class FetchResult:
    url: str
    key: str
    status: str
    status_code: int
    content: bytes | None
    error_cause: str | None = None
    redirect_to: str | None = None  # 3xx Location target (_redirTo)


def fetch_partition(
    rows,  # iterable of (url, key) or objects with .url/.key
    protocol: Protocol,
    server_delay: float = 1.0,
    max_crawl_delay: float = 30.0,
    robots_cache: RobotsCache | None = None,
    respect_robots: bool = True,
    threads_per_queue: int = 1,
    server_min_delay: float = 0.0,
    clock=time.monotonic,
    sleep=time.sleep,
):
    """Fetch one partition's URLs with per-key politeness.

    Priority queue keyed by next-allowed-fetch-time per politeness key:
    pop the earliest-eligible key, fetch one URL, reschedule the key at
    ``now + delay``. Keys interleave, each key is serial + delayed —
    exactly FetcherBolt's queue semantics without its thread pool (Spark
    tasks are already the parallelism; more partitions = more throughput,
    still ≤ 1/delay per host GLOBALLY because a key lives in one partition).
    """
    queues: dict[str, list] = {}
    for r in rows:
        url, key = (r[0], r[1]) if isinstance(r, (tuple, list)) else (r.url, r.key)
        queues.setdefault(key, []).append(url)

    results: list[FetchResult] = []
    heap: list[tuple[float, str]] = [(0.0, k) for k in sorted(queues)]
    heapq.heapify(heap)
    delays: dict[str, float] = {}
    key_rules: dict[str, "object"] = {}

    while heap:
        ready_at, key = heapq.heappop(heap)
        now = clock()
        if ready_at > now:
            sleep(ready_at - now)
        q = queues[key]

        if key not in delays:
            # fetcher.threads.per.queue > 1 switches a queue to the
            # multithreaded minimum delay (fetcher.server.min.delay,
            # crawler-default.yaml:22-27; FetcherBolt.java:241-244)
            delay = server_min_delay if threads_per_queue > 1 else server_delay
            if respect_robots and robots_cache is not None:
                rules = robots_cache.get(key)
            else:
                rules = ALLOW_ALL
            if rules.crawl_delay is not None:
                if rules.crawl_delay > max_crawl_delay:
                    # skip the whole queue (FetcherBolt.java:592-618)
                    for url in q:
                        results.append(
                            FetchResult(url, key, "ERROR", -1, None,
                                        "crawl delay too long"))
                    q.clear()
                else:
                    delay = max(delay, rules.crawl_delay)
            # sitemap auto-discovery from robots (FetcherBolt.java:556-576):
            # surfaced as DISCOVERED rows the status merge will insert
            for sm_url in getattr(rules, "sitemaps", []):
                results.append(
                    FetchResult(sm_url, key, "DISCOVERED", 0, None,
                                "sitemap.discovered"))
            delays[key] = delay
            key_rules[key] = rules
        rules = key_rules.get(key, ALLOW_ALL)

        if not q:
            continue
        url = q.pop(0)
        if respect_robots and not rules.is_allowed(url):
            # robots denial → ERROR with cause (FetcherBolt.java:525-590)
            results.append(
                FetchResult(url, key, "ERROR", -1, None, "robots.txt"))
        else:
            resp = protocol.get_protocol_output(url, {})
            status = status_from_http_code(resp.status_code)
            redir = (resp.metadata or {}).get("_redirTo", [None])[0]
            results.append(
                FetchResult(
                    url, key, status, resp.status_code,
                    resp.content if status == "FETCHED" else None,
                    None, redir,
                )
            )
        if q:
            heapq.heappush(heap, (clock() + delays[key], key))
    return results


def fetch_partition_threaded(
    rows,
    protocol: Protocol,
    threads: int = 10,
    server_delay: float = 1.0,
    max_crawl_delay: float = 30.0,
    robots_cache: RobotsCache | None = None,
    respect_robots: bool = True,
):
    """Threaded politeness fetcher — FetcherBolt's worker-thread pool
    (FetcherBolt.java:871-885: ``fetcher.threads.number`` per instance).

    ``threads`` workers share one eligibility heap; a key lives in the heap
    only while NO worker holds it, so per-key serial + delay still hold,
    while fetch LATENCY overlaps across keys — the knob that matters when
    fetches block on real network time. The serial variant
    (``fetch_partition``) remains the deterministic-clock testing path.
    """
    import threading

    queues: dict[str, list] = {}
    for r in rows:
        url, key = (r[0], r[1]) if isinstance(r, (tuple, list)) else (r.url, r.key)
        queues.setdefault(key, []).append(url)

    results: list[FetchResult] = []
    heap: list[tuple[float, str]] = [(0.0, k) for k in sorted(queues)]
    heapq.heapify(heap)
    delays: dict[str, float] = {}
    key_rules: dict[str, object] = {}
    lock = threading.Condition()
    active = {"n": 0}

    def resolve_rules(key: str) -> bool:
        """Returns False if the whole queue was skipped (crawl delay)."""
        delay = server_delay
        rules = (
            robots_cache.get(key)
            if respect_robots and robots_cache is not None
            else ALLOW_ALL
        )
        if rules.crawl_delay is not None:
            if rules.crawl_delay > max_crawl_delay:
                with lock:
                    for url in queues[key]:
                        results.append(
                            FetchResult(url, key, "ERROR", -1, None,
                                        "crawl delay too long"))
                    queues[key].clear()
                return False
            delay = max(delay, rules.crawl_delay)
        with lock:
            for sm_url in getattr(rules, "sitemaps", []):
                results.append(
                    FetchResult(sm_url, key, "DISCOVERED", 0, None,
                                "sitemap.discovered"))
        delays[key] = delay
        key_rules[key] = rules
        return True

    def worker():
        while True:
            with lock:
                while True:
                    if not heap and active["n"] == 0:
                        return
                    if heap and heap[0][0] <= time.monotonic():
                        ready_at, key = heapq.heappop(heap)
                        active["n"] += 1
                        break
                    timeout = (
                        max(0.0, heap[0][0] - time.monotonic()) if heap else 0.1
                    )
                    lock.wait(timeout=min(timeout, 0.1))
            try:
                if key not in delays and not resolve_rules(key):
                    continue
                q = queues[key]
                if not q:
                    continue
                url = q.pop(0)
                rules = key_rules.get(key, ALLOW_ALL)
                if respect_robots and not rules.is_allowed(url):
                    res = FetchResult(url, key, "ERROR", -1, None, "robots.txt")
                else:
                    resp = protocol.get_protocol_output(url, {})
                    status = status_from_http_code(resp.status_code)
                    res = FetchResult(
                        url, key, status, resp.status_code,
                        resp.content if status == "FETCHED" else None,
                        None,
                        (resp.metadata or {}).get("_redirTo", [None])[0],
                    )
                with lock:
                    results.append(res)
                    if q:
                        heapq.heappush(
                            heap, (time.monotonic() + delays[key], key)
                        )
                    lock.notify_all()
            finally:
                with lock:
                    active["n"] -= 1
                    lock.notify_all()

    pool = [threading.Thread(target=worker, daemon=True)
            for _ in range(max(1, threads))]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return results


def politeness_partition(df, num_partitions: int | None = None):
    """Hash-partition ``df`` by ``key`` into ``num_partitions`` partitions,
    by default ``defaultParallelism``: one task per core / fetch slot,
    whatever ``spark.sql.shuffle.partitions`` says. A key never spans two
    partitions, so a host's politeness delay holds globally. AQE does not
    coalesce a repartition-by-number, so the width is what every cache of
    a generation downstream of it keeps (cached plans keep their output
    partitioning)."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(num_partitions, "key")


def fetch(
    frontier_batch,
    protocol_factory,
    server_delay: float = 1.0,
    max_crawl_delay: float = 30.0,
    respect_robots: bool = True,
    num_partitions: int | None = None,
    threads: int = 1,
):
    """Spark stage: DataFrame(url, key, ...) → DataFrame(url, key, status,
    status_code, content, error_cause).

    ``protocol_factory``: zero-arg callable run ONCE PER EXECUTOR PROCESS
    (module-level memo) returning a Protocol — connection pools and robots
    caches live per executor, like the reference's per-bolt-instance caches.

    The batch is laid out by ``politeness_partition``: hashed by ``key`` into
    ``num_partitions`` partitions, by default ``defaultParallelism`` (one
    fetch task per core / fetch slot, not ``spark.sql.shuffle.partitions``).
    A batch already laid out that way is not shuffled again.
    """
    import pandas as pd

    schema = (
        "url string, key string, status string, status_code int, "
        "content binary, error_cause string, redirect_to string"
    )

    df = politeness_partition(
        frontier_batch.select("url", "key"), num_partitions
    )

    def run(batches):
        # Politeness needs the WHOLE partition's queues before fetching
        # (keys interleave across the full batch), so drain the Arrow
        # batches first — a generation partition is bounded by the frontier
        # query's LIMIT, not by table size, so this is small by design.
        rows: list[tuple[str, str]] = []
        for pdf in batches:
            rows.extend(zip(pdf["url"], pdf["key"]))
        proto = _executor_protocol(protocol_factory)
        cache = RobotsCache(proto.get_robots, ["stormcrawler-spark"])
        if threads > 1:
            res = fetch_partition_threaded(
                rows,
                proto,
                threads=threads,
                server_delay=server_delay,
                max_crawl_delay=max_crawl_delay,
                robots_cache=cache,
                respect_robots=respect_robots,
            )
        else:
            res = fetch_partition(
                rows,
                proto,
                server_delay=server_delay,
                max_crawl_delay=max_crawl_delay,
                robots_cache=cache,
                respect_robots=respect_robots,
            )
        yield pd.DataFrame(
            {
                "url": [r.url for r in res],
                "key": [r.key for r in res],
                "status": [r.status for r in res],
                "status_code": [r.status_code for r in res],
                "content": [r.content for r in res],
                "error_cause": [r.error_cause for r in res],
                "redirect_to": [r.redirect_to for r in res],
            }
        )

    return df.mapInPandas(run, schema=schema)


# id(factory) → (factory, protocol). The strong reference to the factory
# pins it alive, so its id() cannot be recycled by a later allocation and
# hand a different crawl a stale Protocol (robots/politeness state).
_EXECUTOR_PROTOCOL = {}


def _executor_protocol(factory):
    key = id(factory)
    entry = _EXECUTOR_PROTOCOL.get(key)
    if entry is None or entry[0] is not factory:
        entry = (factory, factory())
        _EXECUTOR_PROTOCOL[key] = entry
    return entry[1]
