"""The benchmark's workloads, driven through the program's public API.

Each workload builds its inputs from the seed (``build``), runs an untimed
warm-up (``warm_up``), then one closed-loop operation at a time (``op``)
and finally checks the end state (``final_check``). An operation returns
an ``Op`` record whose ``ok`` flag carries its correctness checks.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import timedelta
from functools import partial

from . import inputs
from .oracle import FrontierOracle


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    items: int = 0
    commit_s: float | None = None  # the FrontierTable commit inside the op
    traced: bool = False
    label: str = ""


def _inject(spark, rows, path: str):
    """Commit generated rows as the first snapshot of a bucket-partitioned
    frontier table, with key and bucket computed by the program's own
    politeness-key functions."""
    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.functions.urls import (
        bucket_expr,
        host_key_expr,
    )
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        FrontierTable,
    )

    df = (
        spark.createDataFrame(rows)
        .withColumn("key", host_key_expr(F.col("url")))
        .withColumn("bucket", bucket_expr(F.col("key")))
        .select(
            "url", "status", "next_fetch_date", "error_count", "key",
            "bucket", "depth",
        )
    )
    table = FrontierTable(path, partition_by="bucket")
    table.commit(df)
    return table


def _clock(gen: int) -> str:
    """The crawl's clock: one minute per generation from the origin, so a
    fetched page (next fetch one day later) never comes due again."""
    return (inputs.CLOCK_ORIGIN + timedelta(minutes=gen)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


class _Workload:
    name = ""
    # A timed phase ends only after a whole cycle of operations, and after
    # at most MAX_OPS operations: what the inputs serve after the warm-up.
    CYCLE = 1
    MAX_OPS: int

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.path = os.path.join(work, self.name)

    def build(self) -> float:
        """Generate the inputs and inject them; returns the seconds taken."""
        t = time.perf_counter()
        self._build()
        return time.perf_counter() - t

    def close(self) -> None:
        pass


class SteadyCrawl(_Workload):
    """Capped generations over a large injected frontier whose every
    outlink target is already known, so the status merge updates rows."""

    name = "steady_crawl"
    N_PAGES = 100_000
    HOSTS = 1000
    FANOUT = 8
    MAX_RESULTS = 2000
    MAX_PER_BUCKET = 2
    # every host has at least ~28 due pages, and a generation fetches two of
    # each host's: the warm-up and this many more generations fill the cap
    MAX_OPS = 12

    def _build(self) -> None:
        rows = inputs.frontier_rows(self.seed, self.N_PAGES, self.HOSTS)
        self.initial_fetched = int((rows["status"] == "FETCHED").sum())
        _inject(self.spark, rows, os.path.join(self.path, "frontier"))

    def _make_loop(self):
        from incubator_stormcrawler_spark.operators.indexing import IndexTable
        from incubator_stormcrawler_spark.protocol.fetch import (
            SyntheticGraphProtocol,
        )
        from incubator_stormcrawler_spark.streaming.crawl_loop import (
            CrawlLoop,
        )

        loop = CrawlLoop(
            self.spark,
            frontier_path=os.path.join(self.path, "frontier"),
            protocol_factory=partial(
                SyntheticGraphProtocol,
                self.N_PAGES,
                hosts=self.HOSTS,
                fanout=self.FANOUT,
            ),
            now_fn=_clock,
            max_per_bucket=self.MAX_PER_BUCKET,
            max_results=self.MAX_RESULTS,
            server_delay=0.0,
            fetch_threads=1,
            bucket_partitioned=True,
            index=IndexTable(
                os.path.join(self.path, "index"), log_structured=True
            ),
        )
        # time the status commit of every generation; the method is looked
        # up per call so a traced run still reaches the traced entry point
        table = loop.table
        self.commit_s: list[float] = []

        def timed_merge_commit(*args, **kwargs):
            t = time.perf_counter()
            try:
                return type(table).merge_commit(table, *args, **kwargs)
            finally:
                self.commit_s.append(time.perf_counter() - t)

        table.merge_commit = timed_merge_commit
        return loop

    def warm_up(self) -> list[Op]:
        self.loop = self._make_loop()
        self.fetched = 0
        self.docs = 0
        return [self.op()]

    def op(self) -> Op:
        commits = len(self.commit_s)
        t = time.perf_counter()
        counts = self.loop.run_generation()
        took = time.perf_counter() - t
        self.fetched += counts["fetched_ok"]
        self.docs += counts["docs"]
        # every generation fills its cap with pages that all fetch
        ok = (
            counts["batch"] == self.MAX_RESULTS
            and counts["fetched_ok"] == self.MAX_RESULTS
        )
        commit = self.commit_s[-1] if len(self.commit_s) > commits else None
        return Op(
            "generation", took, ok, counts["fetched_ok"], commit,
            label="generation",
        )

    def final_check(self) -> dict:
        """No URL fetched twice and none lost: the frontier keeps one row
        per page, and its FETCHED rows are the injected ones plus every
        page the run fetched. Every parsed doc is indexed once."""
        from pyspark.sql import functions as F

        row = self.loop.read_frontier().agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("status") == "FETCHED", 1)).alias("fetched"),
        ).first()
        indexed = self.loop.index.read(self.spark).count()
        checks = {
            "frontier_rows": (row["rows"], self.N_PAGES),
            "frontier_fetched": (
                row["fetched"], self.initial_fetched + self.fetched
            ),
            "indexed_docs": (indexed, self.docs),
        }
        return {k: {"got": g, "want": w} for k, (g, w) in checks.items()}


class FrontierReads(_Workload):
    """A stream of frontier reads over a bucket-partitioned table. After
    every ``READS_PER_COMMIT`` reads, the URLs the cycle's global top-k
    read returned are committed as FETCHED: the spout's poll followed by
    its status updater's commit, as in one crawl generation."""

    name = "frontier_reads"
    N_PAGES = 100_000
    HOSTS = 1000
    READS_PER_COMMIT = 4
    # whole read/commit cycles keep the commit share of the timed phase
    # fixed, so the read throughput does not swing with where it stops
    CYCLE = READS_PER_COMMIT + 1
    MAX_RESULTS = 2000
    MAX_PER_BUCKET = 2
    # every host has at least ~28 due pages, and each cycle commits two of
    # each host's: the warm-up cycle and this many more fill the cap
    MAX_OPS = 12 * CYCLE
    HISTOGRAM_MINUTES = 1440
    NOW = inputs.CLOCK_ORIGIN

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.oracle = FrontierOracle()

    def _build(self) -> None:
        from incubator_stormcrawler_spark.functions.urls import (
            NUM_FRONTIER_BUCKETS,
        )

        rows = inputs.frontier_rows(self.seed, self.N_PAGES, self.HOSTS)
        self.table = _inject(
            self.spark, rows, os.path.join(self.path, "frontier")
        )
        self.n_buckets = NUM_FRONTIER_BUCKETS
        self.expect = {
            "FETCHED": int((rows["status"] == "FETCHED").sum()),
            "DISCOVERED": int((rows["status"] == "DISCOVERED").sum()),
        }
        self.polled: list[str] = []
        self.n_ops = 0
        self.n_reads = 0

    def warm_up(self) -> list[Op]:
        return [self.op() for _ in range(self.CYCLE)]

    def close(self) -> None:
        self.oracle.close()

    def _snapshot(self) -> str:
        return os.path.join(
            self.table.path, f"v{self.table.current_version():06d}"
        )

    def op(self) -> Op:
        i = self.n_ops
        self.n_ops += 1
        if i % (self.READS_PER_COMMIT + 1) == self.READS_PER_COMMIT:
            return self._commit()
        r = self.n_reads
        self.n_reads += 1
        return self._read(r % 4, (r // 4) % self.n_buckets)

    def _read(self, kind: int, bucket: int) -> Op:
        from incubator_stormcrawler_spark.operators import frontier as ops

        k, cap = self.MAX_PER_BUCKET, self.MAX_RESULTS
        t = time.perf_counter()
        frontier = self.table.read(self.spark)
        if kind == 0:
            name = "topk"
            rows = ops.frontier_topk(
                frontier, self.NOW, max_per_bucket=k, max_results=cap
            ).collect()
        elif kind == 1:
            name = "topk_bucket"
            rows = ops.frontier_topk(
                frontier, self.NOW, max_per_bucket=k, max_results=cap,
                bucket=bucket,
            ).collect()
        elif kind == 2:
            name = "status_counts"
            rows = ops.status_counts(frontier).collect()
        else:
            name = "histogram"
            rows = ops.next_fetch_histogram(
                frontier, bucket_minutes=self.HISTOGRAM_MINUTES
            ).collect()
        took = time.perf_counter() - t
        snap = self._snapshot()
        now_us = inputs.epoch_us(self.NOW)
        if name.startswith("topk"):
            want = self.oracle.topk(
                snap, now_us, k, cap, bucket if kind == 1 else None
            )
            got = [(r.url, inputs.epoch_us(r.next_fetch_date)) for r in rows]
            if kind == 0:
                self.polled = [r.url for r in rows]
            ok = len(got) == len(want) and inputs.checksum(
                got
            ) == inputs.checksum(want)
        elif name == "status_counts":
            got = {r.status: r.num_urls for r in rows}
            ok = got == self.oracle.status_counts(snap)
        else:
            got = {
                inputs.epoch_us(r.due_bucket) // 1_000_000: r.num_urls
                for r in rows
            }
            ok = got == self.oracle.histogram(snap, self.HISTOGRAM_MINUTES)
        return Op("read", took, ok, len(rows), label=name)

    def _commit(self) -> Op:
        """Commit the URLs the last global top-k read returned as FETCHED;
        FETCHED moves a row's next fetch a day past the read clock, so the
        next top-k returns the following due URLs."""
        df = self.spark.createDataFrame(
            [(u, "FETCHED") for u in self.polled], "url string, status string"
        )
        before = self.table.current_version()
        t = time.perf_counter()
        self.table.merge_commit(self.spark, df, str(self.NOW))
        took = time.perf_counter() - t
        n = len(self.polled)
        self.expect["FETCHED"] += n
        self.expect["DISCOVERED"] -= n
        self.polled = []
        ok = self.table.current_version() == before + 1
        return Op("commit", took, ok, n, took, label="commit")

    def final_check(self) -> dict:
        """Every committed update landed exactly once: the final status
        counts equal the injected ones moved by the committed updates."""
        got = self.oracle.status_counts(self._snapshot())
        return {
            s: {"got": got.get(s, 0), "want": self.expect.get(s, 0)}
            for s in sorted(set(got) | set(self.expect))
        }


WORKLOADS = {w.name: w for w in (SteadyCrawl, FrontierReads)}
