"""The program API the crawl benchmark (``crawlbench/``) calls, checked
without running the benchmark and without starting a Spark job. The
benchmark's files change only together with the benchmark itself, so a
change to the program that breaks them shows here first."""

from __future__ import annotations

import inspect

import pytest


def test_crawlbench_api_resolves_without_spark_jobs(spark, tmp_path):
    from crawlbench.trace import Tracer
    from crawlbench.workloads import FrontierReads, SteadyCrawl

    from incubator_stormcrawler_spark.operators import frontier as ops
    from incubator_stormcrawler_spark.operators.indexing import IndexTable
    from incubator_stormcrawler_spark.protocol.fetch import MemoryProtocol
    from incubator_stormcrawler_spark.streaming.crawl_loop import CrawlLoop
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        FrontierTable,
    )

    sc = spark.sparkContext
    group = "crawlbench-api-guard"
    sc.setJobGroup(group, "no job may run")
    try:
        # the tracer resolves every entry point it wraps, and installing
        # it routes each through a wrapper that is undone on exit
        tracer = Tracer(spark)
        points = tracer.entry_points()
        originals = [(owner, attr, getattr(owner, attr))
                     for owner, attr, _ in points]
        with tracer.installed():
            for owner, attr, original in originals:
                assert getattr(owner, attr).__wrapped__ is original, attr
        for owner, attr, original in originals:
            assert getattr(owner, attr) is original, attr

        # steady_crawl builds its loop with exactly these keywords
        loop = SteadyCrawl(spark, str(tmp_path), seed=1)._make_loop()
        assert isinstance(loop, CrawlLoop)
        assert loop.table.partition_by == "bucket"
        with pytest.raises(ValueError, match="unpartitioned"):
            CrawlLoop(
                spark,
                str(tmp_path / "f"),
                lambda: MemoryProtocol({}),
                bucket_partitioned=False,
            )
        # and its index with log_structured=True, the only layout left
        with pytest.raises(ValueError, match="snapshot index layout"):
            IndexTable(str(tmp_path / "i"), log_structured=False)

        # frontier_reads' table and the calls it makes on it
        table = FrontierTable(str(tmp_path / "reads"), partition_by="bucket")
        assert table.current_version() == 0 and table.path
        frame = object()
        inspect.signature(FrontierTable.merge_commit).bind(
            table, spark, frame, str(FrontierReads.NOW)
        )
        inspect.signature(FrontierTable.read).bind(table, spark)
        inspect.signature(ops.frontier_topk).bind(
            frame, FrontierReads.NOW, max_per_bucket=2, max_results=2000,
            bucket=0,
        )
        inspect.signature(ops.status_counts).bind(frame)
        inspect.signature(ops.next_fetch_histogram).bind(
            frame, bucket_minutes=1440
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
