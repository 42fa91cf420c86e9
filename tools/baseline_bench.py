"""BASELINE.md workloads: the network-free operator benchmarks with their
DuckDB comparison (targets: frontier/merge ≤ 2× DuckDB; normalize + parse
throughput reported).

Synthetic inputs sized per BASELINE.md: 1 M-URL frontier over 10k hosts
(Zipf-ish via pow), 100k-row status-update batch, 1 M URLs to normalize,
10k HTML pages to parse. All deterministic (md5/mod arithmetic, fixed now).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def best_of(fn, runs: int = 2) -> tuple[float, object]:
    """Hot timing: run twice (page cache + JIT warm), keep the best."""
    best, result = None, None
    for _ in range(runs):
        t0 = time.time()
        result = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best, result

NOW = "2024-01-15 00:00:00"

FRONTIER_SQL_COLS = [
    "'https://host' || cast(h as string) || '.example/p' || cast(id as string)"
    " AS url",
    "case when mod(id, 100) < 60 then 'DISCOVERED'"
    " when mod(id, 100) < 85 then 'FETCHED'"
    " when mod(id, 100) < 93 then 'FETCH_ERROR'"
    " when mod(id, 100) < 98 then 'REDIRECTION'"
    " else 'ERROR' end AS status",
    "timestampadd(MINUTE, cast(mod(id * 7, 20160) as int),"
    " timestamp '2024-01-08 00:00:00') AS next_fetch_date",
    "0 AS error_count",
    "'host' || cast(h as string) || '.example' AS key",
    "cast(mod(h, 10) as int) AS bucket",
]


def build_frontier_parquet(spark: SparkSession, path: str, n: int = 1_000_000,
                           hosts: int = 10_000) -> None:
    # Zipf-ish host popularity: h = floor(hosts * (id/n)^3) — a few hosts
    # get big queues, most get few (exercises the skew path of the window).
    df = spark.range(n).selectExpr(
        f"cast(floor({hosts} * pow(id / {n}, 3)) as bigint) AS h", "id"
    ).selectExpr(*FRONTIER_SQL_COLS)
    df.write.mode("overwrite").parquet(path)


def bench_frontier_query(spark, frontier_path: str) -> dict:
    from incubator_stormcrawler_spark.operators.frontier import frontier_topk

    frontier = spark.read.parquet(frontier_path).select(
        "url", "next_fetch_date", "key"
    )
    spark_t, n = best_of(
        lambda: frontier_topk(
            frontier, NOW, max_per_bucket=2, max_results=10_000
        ).count()
    )

    import duckdb

    con = duckdb.connect()
    duck_t, dn0 = best_of(lambda: con.sql(f"""
        SELECT count(*) FROM (
          SELECT *, row_number() OVER (ORDER BY next_fetch_date, url) AS gn
          FROM (
            SELECT url, next_fetch_date, key,
                   row_number() OVER (PARTITION BY key
                                      ORDER BY next_fetch_date, url) AS rn
            FROM '{frontier_path}/*.parquet'
            WHERE next_fetch_date <= TIMESTAMP '{NOW}'
          ) WHERE rn <= 2
        ) WHERE gn <= 10000
    """).fetchall())
    dn = dn0[0][0]
    assert n == dn, (n, dn)
    return {"spark_sec": round(spark_t, 3), "duckdb_sec": round(duck_t, 3),
            "ratio": round(spark_t / max(duck_t, 1e-9), 2), "rows": n}


def bench_status_merge(spark, frontier_path: str, n_updates: int = 100_000) -> dict:
    from incubator_stormcrawler_spark.operators.status_merge import (
        merge_status_updates,
    )

    frontier = spark.read.parquet(frontier_path)
    updates = spark.range(n_updates).selectExpr(
        "'https://host' || cast(mod(id, 10000) as string) || '.example/p' ||"
        " cast(id * 11 as string) AS url",
        "case when mod(id, 10) < 5 then 'DISCOVERED'"
        " when mod(id, 10) < 8 then 'FETCHED' else 'FETCH_ERROR' end AS status",
    )
    # count() prunes unused columns in BOTH engines, so make both sides
    # materialize the full merge output via an aggregate over its columns.
    spark_t, agg = best_of(
        lambda: merge_status_updates(frontier, updates, NOW)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col("status"))).alias("s"),
            F.sum("error_count").alias("e"),
            F.sum("bucket").alias("b"),
        )
        .collect()[0]
    )
    n = agg["n"]

    import duckdb

    con = duckdb.connect()
    duck_t, dres = best_of(lambda: con.sql(f"""
        WITH updates AS (
          SELECT 'https://host' || cast(mod(id, 10000) as varchar) ||
                 '.example/p' || cast(id * 11 as varchar) AS url,
                 CASE WHEN mod(id, 10) < 5 THEN 'DISCOVERED'
                      WHEN mod(id, 10) < 8 THEN 'FETCHED'
                      ELSE 'FETCH_ERROR' END AS status
          FROM range({n_updates}) t(id)
        ), dedup AS (
          SELECT url, max_by(status, CASE status WHEN 'FETCHED' THEN 4
            WHEN 'REDIRECTION' THEN 3 WHEN 'FETCH_ERROR' THEN 2
            ELSE 1 END) AS u_status
          FROM updates GROUP BY url
        ), merged AS (
          SELECT coalesce(f.url, u.url) AS url,
            CASE WHEN u.u_status IS NULL THEN f.status
                 WHEN u.u_status = 'DISCOVERED' AND f.status IS NOT NULL
                   THEN f.status
                 WHEN u.u_status = 'FETCH_ERROR'
                      AND coalesce(f.error_count, 0) + 1 >= 3 THEN 'ERROR'
                 ELSE u.u_status END AS status,
            CASE WHEN u.u_status IS NULL
                   OR (u.u_status = 'DISCOVERED' AND f.status IS NOT NULL)
                   THEN f.error_count
                 WHEN u.u_status = 'FETCH_ERROR'
                   THEN coalesce(f.error_count, 0) + 1
                 WHEN u.u_status IN ('FETCHED', 'REDIRECTION') THEN 0
                 ELSE coalesce(f.error_count, 0) END AS error_count,
            coalesce(f.bucket, cast(mod(('0x' || substr(md5(
              lower(regexp_extract(coalesce(f.url, u.url),
                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))), 1, 8))::bigint,
              10) as int)) AS bucket
          FROM '{frontier_path}/*.parquet' f
          FULL OUTER JOIN dedup u ON f.url = u.url
        )
        SELECT count(*), sum(error_count), sum(bucket) FROM merged
    """).fetchall())
    dn = dres[0][0]
    assert n == dn, (n, dn)
    assert int(agg["e"]) == int(dres[0][1]) and int(agg["b"]) == int(dres[0][2])
    return {"spark_sec": round(spark_t, 3), "duckdb_sec": round(duck_t, 3),
            "ratio": round(spark_t / max(duck_t, 1e-9), 2), "rows": n}


def bench_normalize(spark, n: int = 1_000_000) -> dict:
    """Native normalization chain over 1 M messy URLs → URLs/sec."""
    from incubator_stormcrawler_spark.functions.urls import (
        remove_query_params_expr,
        strip_fragment_expr,
    )

    urls = spark.range(n).selectExpr(
        "'https://Host' || cast(mod(id, 50000) as string) ||"
        " '.Example.com/path/' || cast(id as string) ||"
        " '?id=' || cast(id as string) ||"
        " '&utm_source=x&utm_medium=y#frag' AS url"
    )
    cleaned = remove_query_params_expr(
        strip_fragment_expr(F.col("url")), ["utm_*"]
    )
    out = urls.select(F.lower(cleaned).alias("u"))
    dt, n_out = best_of(lambda: out.where(~F.col("u").contains("utm_")).count())
    assert n_out == n
    return {"spark_sec": round(dt, 3), "urls_per_sec": int(n / dt)}


def bench_python_normalize(spark, n: int = 200_000) -> dict:
    """Exact-parity Python normalizer via Arrow batches → URLs/sec."""
    import pandas as pd

    from incubator_stormcrawler_spark.functions.urls import BasicURLNormalizer

    urls = spark.range(n).selectExpr(
        "'https://Host' || cast(mod(id, 50000) as string) ||"
        " '.Example.com/a/../p/' || cast(id as string) || '#frag' AS url"
    )
    norm = BasicURLNormalizer()

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({"u": [norm.filter(u) for u in pdf["url"]]})

    dt, n_out = best_of(
        lambda: urls.mapInPandas(run, schema="u string")
        .where(F.col("u").isNotNull())
        .count()
    )
    assert n_out == n
    return {"spark_sec": round(dt, 3), "urls_per_sec": int(n / dt)}


def bench_parse(spark, n_pages: int = 10_000) -> dict:
    """HTML parse stage over synthetic pages → pages/sec."""
    from incubator_stormcrawler_spark.parse.html import parse_pages

    link = (
        "'<a href=\"/p' || cast(id + 1 as string) || '\">next</a>"
        "<a href=\"https://other.example/x' || cast(mod(id, 7) as string)"
        " || '\" rel=\"nofollow\">o</a>'"
    )
    pages = spark.range(n_pages).selectExpr(
        "'https://bench.example/p' || cast(id as string) AS url",
        "cast('<html><head><title>t</title></head><body>' || "
        + link +
        " || '<p>some body text for extraction</p></body></html>' as binary)"
        " AS content",
    )
    parsed = parse_pages(pages, max_outlinks=50)
    dt, n_links = best_of(
        lambda: parsed.select(F.explode("outlinks")).count()
    )
    assert n_links == 2 * n_pages
    return {"spark_sec": round(dt, 3), "pages_per_sec": int(n_pages / dt)}


def bench_crawl_pipeline(spark, n_pages: int = 10_000, hosts: int = 100) -> dict:
    """End-to-end generation throughput: seed → frontier → fetch (memory
    protocol, zero delay) → parse → filter → merge, one full generation
    over n_pages. This is the number to hold against the reference's
    politeness-bound ~min(threads, hosts) pages/s ceiling: with politeness
    disabled both engines are compute-bound and comparable."""
    import shutil as _shutil
    import tempfile as _tempfile

    from incubator_stormcrawler_spark.protocol.fetch import MemoryProtocol
    from incubator_stormcrawler_spark.streaming.crawl_loop import CrawlLoop

    site = {
        f"https://h{i % hosts}.example/p{i}":
            f'<html><head><title>t{i}</title></head><body>'
            f'<a href="https://h{(i + 1) % hosts}.example/p{(i + 1) % n_pages}">n</a>'
            f"<p>body text {i}</p></body></html>"
        for i in range(n_pages)
    }
    tmp = _tempfile.mkdtemp(prefix="crawl_bench_")
    try:
        loop = CrawlLoop(
            spark,
            frontier_path=os.path.join(tmp, "frontier"),
            protocol_factory=lambda: MemoryProtocol(site),
            server_delay=0.0,
            max_per_bucket=n_pages,
            max_results=n_pages,
        )
        seeds = spark.createDataFrame([(u,) for u in site], ["url"])
        loop.inject_seeds(seeds)
        t0 = time.time()
        stats = loop.run_generation()
        dt = time.time() - t0
        assert stats["fetched_ok"] == n_pages, stats
        return {
            "spark_sec": round(dt, 3),
            "pages_per_sec": int(n_pages / dt),
            "docs": stats["docs"],
            "discovered": stats["discovered"],
        }
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)


def bench_recursive_crawl(
    spark,
    n_pages: int = 1_000_000,
    hosts: int = 1000,
    fanout: int = 4,
    adaptive: bool = True,
    rank_priority: bool = False,
    **loop_kw,
) -> dict:
    """FULL recursive crawl to frontier exhaustion over a CLOSED synthetic
    graph (SyntheticGraphProtocol: a fanout-ary tree covering every page
    plus one cross link per page for duplicate-discovery pressure) — the
    reference's whole topology cycle (crawler.flux:94-137 seeds → spout →
    fetch → parse → status → spout ...) run as ~log_fanout(n) generations
    with the politeness machinery on, adaptive scheduling, dedup-on-merge
    and the bucket-partitioned frontier (pruned merge_commit).

    Exactly-once evidence returned alongside throughput: the sum of
    fetched pages across generations must equal n_pages (each page fetched
    EXACTLY once even though cross links re-discover crawled pages every
    generation), and the final frontier must hold exactly n_pages rows,
    all FETCHED.
    """
    import shutil as _shutil
    import tempfile as _tempfile
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.protocol.fetch import (
        SyntheticGraphProtocol,
    )
    from incubator_stormcrawler_spark.streaming.crawl_loop import CrawlLoop

    tmp = _tempfile.mkdtemp(prefix="crawl_recursive_")
    try:
        loop = CrawlLoop(
            spark,
            frontier_path=os.path.join(tmp, "frontier"),
            protocol_factory=lambda: SyntheticGraphProtocol(
                n_pages, hosts=hosts, fanout=fanout
            ),
            # MINUTE-granular clock: a DISCOVERED row (scheduled at merge
            # time) is due one tick later, while a FETCHED row's refetch
            # date (≥1 day out, adaptive or default) stays beyond any
            # realistic generation count — so the crawl can only exhaust,
            # and any re-fetch would surface as total_fetched > n_pages.
            # (Day-granular ticks re-fetch everything: 2 days > the 1-day
            # refetch interval — measured, not hypothetical.)
            now_fn=lambda gen: (
                datetime(2024, 1, 15) + timedelta(minutes=gen)
            ).strftime("%Y-%m-%d %H:%M:%S"),
            server_delay=0.0,
            max_per_bucket=n_pages,
            max_results=n_pages,
            adaptive=adaptive,
            # rank_priority with max_buckets=hosts keeps coverage
            # identical (every due host still crawls) while exercising
            # the per-generation host-PageRank + rank-ordered bucket
            # choice at scale — the measurement is its overhead
            rank_priority=rank_priority,
            rank_max_buckets=hosts,
            # extra CrawlLoop options (forecast_sizing, warc_dir, index,
            # ...) pass straight through — the full-stack mode turns
            # everything on at once
            **loop_kw,
        )
        seeds = spark.createDataFrame(
            [(f"https://h0.example/p0",)], ["url"]
        )
        loop.inject_seeds(seeds)
        t0 = time.time()
        gens = []
        total_fetched = 0
        while True:
            g0 = time.time()
            stats = loop.run_generation()
            stats["sec"] = round(time.time() - g0, 2)
            stats["pages_per_sec"] = (
                int(stats["fetched_ok"] / stats["sec"])
                if stats["sec"] > 0 and stats["fetched_ok"]
                else 0
            )
            gens.append(stats)
            total_fetched += stats["fetched_ok"]
            if stats["batch"] == 0:  # frontier exhausted: converged
                break
            assert len(gens) < 80, "crawl failed to converge"
        wall = time.time() - t0
        frontier = loop.read_frontier()
        n_rows = frontier.count()
        n_fetched_state = frontier.where(
            F.col("status") == "FETCHED"
        ).count()
        return {
            "n_pages": n_pages,
            "hosts": hosts,
            "fanout": fanout,
            "generations": len(gens) - 1,  # last one is the empty probe
            "total_fetched": total_fetched,
            "frontier_rows": n_rows,
            "frontier_fetched": n_fetched_state,
            "exactly_once": (
                total_fetched == n_pages
                and n_rows == n_pages
                and n_fetched_state == n_pages
            ),
            "wall_sec": round(wall, 2),
            "pages_per_sec": int(n_pages / wall),
            "per_generation": [
                {k: g[k] for k in (
                    "generation", "batch", "fetched_ok", "discovered",
                    "sec", "pages_per_sec",
                )}
                for g in gens
            ],
        }
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)


def bench_minhash_dedup(spark, n_docs: int = 100_000) -> dict:
    """MinHash-LSH near-dup detection at scale: synthetic 100k-doc corpus
    with a known 2% near-dup rate. The throughput number for the
    shingle→minhash→band→bucket-join path (the 100 TB dedup design)."""
    from incubator_stormcrawler_spark.operators.dedup import lsh_candidate_pairs

    # ~40-token docs with md5-derived unique word streams (no accidental
    # collisions); every 50th doc near-duplicates its predecessor
    words = ("concat_ws(' ', transform(sequence(0, 39), "
             "j -> substr(md5(cast(id as string) || '-' || cast(j as string)), 1, 6)))")
    near = words.replace("cast(id as string)", "cast(id - 1 as string)")
    docs = spark.range(n_docs).selectExpr(
        "id as doc_id",
        f"case when mod(id, 50) = 0 and id > 0 then {near} || ' tail' "
        f"else {words} end as text",
    )
    t0 = time.time()
    pairs = lsh_candidate_pairs(docs, num_hashes=8, band_rows=2,
                                min_est_sim=0.5)
    n_pairs = pairs.count()
    dt = time.time() - t0
    assert n_pairs >= n_docs // 50 * 0.8  # catches most planted near-dups
    return {
        "spark_sec": round(dt, 3),
        "docs_per_sec": int(n_docs / dt),
        "candidate_pairs": n_pairs,
    }


def run_baselines(spark, with_8m: bool = True) -> dict:
    import gc

    def _clean():
        # same hygiene as bench.py's query loop: drop named caches and let
        # the ContextCleaner reap checkpoint RDDs, so each baseline starts
        # from a quiet block manager (the 100k-doc minhash and 8 M-row
        # window otherwise inherit hundreds of MB of dead blocks and spill
        # — measured 2-8× swings between runs); the JVM GC compacts the
        # tenured garbage a long query suite leaves behind
        spark.catalog.clearCache()
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    tmp = tempfile.mkdtemp(prefix="baseline_bench_")
    f1m = os.path.join(tmp, "frontier1m")
    f8m = os.path.join(tmp, "frontier8m")
    try:
        build_frontier_parquet(spark, f1m)
        out = {}
        for name, fn in [
            ("frontier_query_1m", lambda: bench_frontier_query(spark, f1m)),
            ("status_merge_100k_into_1m",
             lambda: bench_status_merge(spark, f1m)),
            # shuffle-heaviest workload early, before the python-stage
            # benches grow the worker pool and the crawl loop churns the
            # heap (ordering alone was worth ~3× on its recorded time)
            ("minhash_dedup_100k", lambda: bench_minhash_dedup(spark)),
            ("url_normalize_native_1m", lambda: bench_normalize(spark)),
            ("url_normalize_python_200k",
             lambda: bench_python_normalize(spark)),
            ("html_parse_10k", lambda: bench_parse(spark)),
            ("crawl_pipeline_10k", lambda: bench_crawl_pipeline(spark)),
        ]:
            _clean()
            out[name] = fn()
        if with_8m:
            # the scale point where Spark's fixed overheads amortize:
            # ratio vs DuckDB drops from ~7x (1M) to ~1x (8M)
            build_frontier_parquet(spark, f8m, n=8_000_000, hosts=80_000)
            _clean()
            out["frontier_query_8m"] = bench_frontier_query(spark, f8m)
            _clean()
            out["status_merge_100k_into_8m"] = bench_status_merge(spark, f8m)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    import json
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("baseline-bench")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run_baselines(spark), indent=2))
