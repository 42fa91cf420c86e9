"""Outside-in layer tracing for the traced benchmark run.

The tracer wraps each layer's public entry point from the benchmark's own
files (module attributes as ``crawl_loop`` resolves them, or class methods),
so the per-layer numbers come without touching the program. Each span:

- forces a returned DataFrame (persist + count), so the span holds the
  layer's execution instead of just building a plan;
- runs under its own Spark job group, so the status tracker attributes
  jobs, stages and tasks to it;
- runs its metric counts in a separate ``aux`` child span, which keeps them
  out of every layer's self time and task counts.

Frames the tracer persisted are released, and job counts resolved, when
the outermost span (one benchmark operation) ends. Spans stay in memory
and are written once, by ``dump``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .stats import median

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    aux: bool = False
    group: str = ""
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children
    cover (the union of their intervals, clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out = []
    for i, sp in enumerate(spans):
        covered = 0.0
        cursor = sp.start
        for c in sorted(children[i], key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append((sp.end - sp.start) - covered)
    return out


def _root_of(spans: list[Span], i: int) -> int:
    while spans[i].parent is not None:
        i = spans[i].parent
    return i


def _snapshot_files(snapshot: str) -> tuple[int, int, int]:
    """(files written, buckets touched, buckets) of a just-committed
    snapshot. Files a commit carries forward are hard links to the
    previous snapshot's, so the ones it wrote have a single link."""
    written = touched = buckets = 0
    for name in os.listdir(snapshot):
        sub = os.path.join(snapshot, name)
        if not name.startswith("bucket=") or not os.path.isdir(sub):
            continue
        buckets += 1
        fresh = sum(
            1
            for f in os.listdir(sub)
            if f.endswith(".parquet")
            and os.stat(os.path.join(sub, f)).st_nlink == 1
        )
        written += fresh
        touched += fresh > 0
    return written, touched, buckets


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._persisted: list = []
        self._t0 = time.perf_counter()

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, aux: bool = False):
        idx = len(self.spans)
        sp = Span(
            name,
            time.perf_counter() - self._t0,
            parent=self._stack[-1] if self._stack else None,
            aux=aux,
            group=f"crawlbench-span-{idx}",
        )
        self.spans.append(sp)
        self._stack.append(idx)
        outer_group = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._t0
            self.sc.setLocalProperty(_JOB_GROUP, outer_group)
            self._stack.pop()
            if not self._stack:
                self._finish_operation(idx)

    def _finish_operation(self, first: int) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []
        # job and task counts reach the status store through the listener
        # bus; drain it before reading them
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for sp in self.spans[first:]:
            jobs = tracker.getJobIdsForGroup(sp.group)
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = tasks = 0
            for s in stage_ids:
                info = tracker.getStageInfo(s)
                if info is not None and info.numCompletedTasks > 0:
                    stages += 1
                    tasks += info.numCompletedTasks
            sp.counts.update(
                spark_jobs=len(jobs), spark_stages=stages, spark_tasks=tasks
            )

    def _force(self, sp: Span, df):
        df = df.persist()
        sp.counts["rows"] = df.count()
        self._persisted.append(df)
        return df

    # -- wrappers -------------------------------------------------------
    def _wrap(self, layer: str, fn, returns_frame: bool, measure=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer) as sp:
                out = fn(*args, **kwargs)
                if returns_frame:
                    out = tracer._force(sp, out)
                if measure is not None:
                    with tracer.span(layer + ".aux", aux=True):
                        measure(sp.counts, out, args)
            return out

        return traced

    def entry_points(self) -> list[tuple[object, str, object]]:
        """(owner, attribute, wrapper) for every traced entry point."""
        from pyspark.sql import functions as F

        from incubator_stormcrawler_spark.operators import (
            frontier,
            indexing,
            status_merge,
        )
        from incubator_stormcrawler_spark.parse import feed, router, sitemap
        from incubator_stormcrawler_spark.streaming import (
            crawl_loop,
            frontier_table,
        )

        def fetch_counts(c, df, args):
            c["ok"] = df.where(F.col("status") == "FETCHED").count()

        def parse_counts(c, df, args):
            row = df.agg(
                F.count(F.when(F.col("error").isNull(), 1)).alias("docs"),
                F.coalesce(F.sum(F.size("outlinks")), F.lit(0)).alias("out"),
            ).first()
            c["docs"], c["outlinks"] = row["docs"], row["out"]

        def filter_counts(c, df, args):
            c["kept"] = df.where(F.col("filtered_url").isNotNull()).count()

        def merge_counts(c, merged, args):
            # a full-outer merge keeps every frontier row and adds one per
            # new URL, so the inserts are the row-count difference
            frontier, updates = args[0], args[1]
            row = updates.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(
                    F.when(F.col("status") == "DISCOVERED", F.col("url"))
                ).alias("discovered"),
            ).first()
            c["update_rows"], c["discovered"] = row["n"], row["discovered"]
            c["new_urls"] = c["rows"] - frontier.count()

        def commit_counts(c, version, args):
            snapshot = os.path.join(args[0].path, f"v{version:06d}")
            c["files_written"], c["touched"], c["buckets"] = (
                _snapshot_files(snapshot)
            )

        def index_counts(c, out, args):
            c["docs"] = args[1].count()

        Loop = crawl_loop.CrawlLoop
        Table = frontier_table.FrontierTable
        Index = indexing.IndexTable
        w = self._wrap
        return [
            (Loop, "run_generation", w("crawl_loop", Loop.run_generation, False)),
            (crawl_loop, "frontier_topk",
             w("frontier", crawl_loop.frontier_topk, True)),
            (frontier, "frontier_topk",
             w("frontier", frontier.frontier_topk, True)),
            (crawl_loop, "fetch", w("fetch", crawl_loop.fetch, True,
                                    fetch_counts)),
            (router, "classify_pages",
             w("parse", router.classify_pages, True)),
            (sitemap, "parse_sitemaps",
             w("parse", sitemap.parse_sitemaps, True)),
            (feed, "parse_feeds", w("parse", feed.parse_feeds, True)),
            (crawl_loop, "parse_pages",
             w("parse", crawl_loop.parse_pages, True, parse_counts)),
            (crawl_loop, "apply_filter_chain",
             w("filtering", crawl_loop.apply_filter_chain, True,
               filter_counts)),
            (status_merge, "merge_status_updates",
             w("status_merge", status_merge.merge_status_updates, True,
               merge_counts)),
            (crawl_loop, "merge_status_updates",
             w("status_merge", crawl_loop.merge_status_updates, True,
               merge_counts)),
            (Table, "merge_commit",
             w("frontier_table", Table.merge_commit, False, commit_counts)),
            (Table, "commit",
             w("frontier_table", Table.commit, False, commit_counts)),
            (Index, "upsert", w("indexing", Index.upsert, False,
                                index_counts)),
            (Index, "delete", w("indexing", Index.delete, False,
                                index_counts)),
        ]

    @contextmanager
    def installed(self):
        """Route the layers' entry points through the tracer while the
        block runs; the originals are restored afterwards."""
        points = self.entry_points()
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in points]
        for owner, attr, wrapper in points:
            setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            for owner, attr, original in saved:
                setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(sp) for sp in self.spans], f)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


# Per-layer metric names and units, in report order.
LAYER_METRICS = {
    "crawl_loop.self_s": "s",
    "crawl_loop.spark_jobs": "count",
    "crawl_loop.spark_stages": "count",
    "crawl_loop.spark_tasks": "count",
    "frontier.busy_s": "s",
    "frontier.rows_out": "count",
    "frontier.spark_tasks": "count",
    "fetch.busy_s": "s",
    "fetch.pages": "count",
    "fetch.ok_ratio": "ratio",
    "parse.busy_s": "s",
    "parse.docs": "count",
    "parse.outlinks": "count",
    "filtering.busy_s": "s",
    "filtering.kept_ratio": "ratio",
    "status_merge.busy_s": "s",
    "status_merge.update_rows": "count",
    "status_merge.new_url_ratio": "ratio",
    "frontier_table.commit_self_s": "s",
    "frontier_table.touched_bucket_ratio": "ratio",
    "frontier_table.files_written": "count",
    "frontier_table.spark_tasks": "count",
    "indexing.busy_s": "s",
    "indexing.docs": "count",
    "trace.overhead_ratio": "ratio",
}


def layer_metrics(
    spans: list[Span], traced_s: list[float], untraced_s: list[float]
) -> dict[str, float]:
    """Per-layer metrics of a traced run. Times and counts are per traced
    operation (one operation = one outermost span); ratios are taken over
    the summed counts. ``traced_s``/``untraced_s`` are the wall times of
    the operations run with and without tracing, alternately, in the same
    run; their median ratio is the tracing overhead."""
    selfs = self_times(spans)
    busy: dict[str, float] = defaultdict(float)
    counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    loop_totals: dict[str, float] = defaultdict(float)
    roots = {_root_of(spans, i) for i in range(len(spans))}
    loop_roots = {
        _root_of(spans, i)
        for i, sp in enumerate(spans)
        if sp.name == "crawl_loop"
    }
    for i, (sp, own) in enumerate(zip(spans, selfs)):
        if sp.aux:
            continue
        busy[sp.name] += own
        for k, v in sp.counts.items():
            counts[sp.name][k] += v
        if _root_of(spans, i) in loop_roots:
            for k in ("spark_jobs", "spark_stages", "spark_tasks"):
                loop_totals[k] += sp.counts.get(k, 0)
    n = max(1, len(roots))
    c = counts
    return {
        "crawl_loop.self_s": busy["crawl_loop"] / n,
        "crawl_loop.spark_jobs": loop_totals["spark_jobs"] / n,
        "crawl_loop.spark_stages": loop_totals["spark_stages"] / n,
        "crawl_loop.spark_tasks": loop_totals["spark_tasks"] / n,
        "frontier.busy_s": busy["frontier"] / n,
        "frontier.rows_out": c["frontier"]["rows"] / n,
        "frontier.spark_tasks": c["frontier"]["spark_tasks"] / n,
        "fetch.busy_s": busy["fetch"] / n,
        "fetch.pages": c["fetch"]["rows"] / n,
        "fetch.ok_ratio": _ratio(c["fetch"]["ok"], c["fetch"]["rows"]),
        "parse.busy_s": busy["parse"] / n,
        "parse.docs": c["parse"]["docs"] / n,
        "parse.outlinks": c["parse"]["outlinks"] / n,
        "filtering.busy_s": busy["filtering"] / n,
        "filtering.kept_ratio": _ratio(
            c["filtering"]["kept"], c["filtering"]["rows"]
        ),
        "status_merge.busy_s": busy["status_merge"] / n,
        "status_merge.update_rows": c["status_merge"]["update_rows"] / n,
        "status_merge.new_url_ratio": _ratio(
            c["status_merge"]["new_urls"], c["status_merge"]["discovered"]
        ),
        "frontier_table.commit_self_s": busy["frontier_table"] / n,
        "frontier_table.touched_bucket_ratio": _ratio(
            c["frontier_table"]["touched"], c["frontier_table"]["buckets"]
        ),
        "frontier_table.files_written": (
            c["frontier_table"]["files_written"] / n
        ),
        "frontier_table.spark_tasks": c["frontier_table"]["spark_tasks"] / n,
        "indexing.busy_s": busy["indexing"] / n,
        "indexing.docs": c["indexing"]["docs"] / n,
        "trace.overhead_ratio": _ratio(median(traced_s), median(untraced_s)),
    }
