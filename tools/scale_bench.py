"""Measured scaling curves for the headline operators — the evidence that
SCALE.md's plan-shape claims hold when the data grows, not just at sf0.1.

Each operator runs at 3 sizes spanning 16× (4× steps), timed after the
same cache/GC hygiene bench.py uses. For each curve we report the growth
exponent alpha = log(t_hi/t_lo) / log(n_hi/n_lo): alpha ≈ 1 is linear
scaling (fixed overheads make sub-linear alphas common at these sizes);
alpha substantially above ~1.3 flags a plan that degrades super-linearly
and needs a fix before anyone believes the 100 TB story.

Also measures two skew A/Bs SCALE.md argues qualitatively: (1) salted vs
unsalted grouped top-k with 95% of URLs on ONE host — measured result:
PLAIN wins at 16M and 64M because Spark ≥ 3.5's partial WindowGroupLimit
is the salting trick engine-native (see frontier.py docstrings); (2)
substring dedup on a hot-boilerplate corpus (one gram hash in 25% of
docs) vs uniform — measured ~1× (no hot reducer).

Run:  python tools/scale_bench.py [--quick] [--deep]
Writes SCALING.json and prints a markdown table for BASELINE.md.
--quick drops every size by 4× (CI-speed smoke of the same curves);
--deep adds a 4th point at 4× each curve's max (64× total span).
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

NOW = "2024-01-15 00:00:00"


def _clean(spark):
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def timed(fn, warmup: bool = False) -> float:
    """Time fn; with warmup=True run it once untimed first (JIT, python
    worker pool, shuffle-service spinup — measured 3x swings on the
    smallest curve point otherwise, which fabricates sub-linear alphas)."""
    if warmup:
        fn()
    t0 = time.time()
    fn()
    return time.time() - t0


def alpha(points: list[dict]) -> float:
    """Growth exponent over the widest span of a curve."""
    lo, hi = points[0], points[-1]
    return round(
        math.log(hi["sec"] / lo["sec"]) / math.log(hi["rows"] / lo["rows"]), 2
    )


def _scaling_path() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "SCALING.json")


def load_scaling() -> dict:
    """Current SCALING.json contents ({} before the first run)."""
    if os.path.exists(_scaling_path()):
        with open(_scaling_path()) as f:
            return json.load(f)
    return {}


def merge_scaling(updates: dict) -> str:
    """Read-merge-write SCALING.json (every *_main used to inline this
    block verbatim — one place now)."""
    merged = load_scaling()
    merged.update(updates)
    with open(_scaling_path(), "w") as f:
        json.dump(merged, f, indent=2)
    return _scaling_path()


def synth_docs(spark, n: int):
    """~40-token docs, md5-derived unique word streams, 2% planted
    near-dups — the minhash bench corpus (tools/baseline_bench.py)."""
    words = (
        "concat_ws(' ', transform(sequence(0, 39), j -> "
        "substr(md5(cast(id as string) || '-' || cast(j as string)), 1, 6)))"
    )
    near = words.replace("cast(id as string)", "cast(id - 1 as string)")
    return spark.range(n).selectExpr(
        "id as doc_id",
        f"case when mod(id, 50) = 0 and id > 0 then {near} || ' tail' "
        f"else {words} end as text",
    )


def synth_dup_docs(spark, n: int):
    """Corpus for substring/segment dedup: every 4th doc repeats doc
    (id-1)'s text with a unique prefix — long shared spans, plenty of
    exact-duplicate segments."""
    words = (
        "concat_ws(' ', transform(sequence(0, 63), j -> "
        "substr(md5(cast(id as string) || '.' || cast(j as string)), 1, 6)))"
    )
    prev = words.replace("cast(id as string)", "cast(id - 1 as string)")
    return spark.range(n).selectExpr(
        "id as doc_id",
        f"case when mod(id, 4) = 0 and id > 0 then "
        f"concat('pfx', cast(id as string), ' ', {prev}) "
        f"else {words} end as text",
    )


def synth_pairs(spark, n_edges: int):
    """Near-dup pair graph: chains of 8 nodes (i ~ i+1 within a block)
    plus every 16th edge long-range — components of mixed diameter."""
    return spark.range(n_edges).selectExpr(
        "case when mod(id, 16) = 0 then cast(id as bigint) "
        "else cast(id + floor(id / 8) as bigint) end as doc1",
        "case when mod(id, 16) = 0 then cast(id + 12345 as bigint) "
        "else cast(id + floor(id / 8) + 1 as bigint) end as doc2",
    )


def curve_frontier_topk(spark, tmp, sizes):
    from tools.baseline_bench import build_frontier_parquet

    from incubator_stormcrawler_spark.operators.frontier import frontier_topk

    out = []
    for n in sizes:
        path = os.path.join(tmp, f"fr{n}")
        build_frontier_parquet(spark, path, n=n, hosts=max(n // 100, 100))
        _clean(spark)
        fr = spark.read.parquet(path).select("url", "next_fetch_date", "key")
        sec = timed(
            lambda: frontier_topk(
                fr, NOW, max_per_bucket=2, max_results=10_000
            ).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
        shutil.rmtree(path, ignore_errors=True)
    return out


def skewed_topk_ab(spark, tmp, n):
    """Salted vs unsalted grouped top-k where 95% of URLs sit on ONE host
    (the rest uniform over n/1000) — the single-giant-queue case (one CDN
    domain owning the frontier). MEASURED RESULT (r7): plain wins at
    every scale tried (16M, 64M) because Spark ≥ 3.5's
    InsertWindowGroupLimit plants a PARTIAL per-key top-k below the
    exchange — each map task forwards ≤ k rows of the mega-host, which
    is the salting trick engine-native, minus the second shuffle the
    hand-salted variant pays. Plan-asserted in tests/test_plans.py::
    test_frontier_topk_partial_window_group_limit. Returns both timings
    and asserts identical results."""
    from incubator_stormcrawler_spark.operators.frontier import (
        frontier_topk,
        frontier_topk_salted,
    )

    path = os.path.join(tmp, f"skew{n}")
    spark.range(n).selectExpr(
        "case when mod(id, 20) < 19 then 'mega.example' "
        f"else concat('h', cast(mod(id, {max(n // 1000, 100)}) as string)) end as key",
        "concat('https://x/', cast(id as string)) as url",
        "timestampadd(MINUTE, cast(mod(id * 7, 20160) as int), "
        "timestamp '2024-01-08 00:00:00') as next_fetch_date",
    ).write.mode("overwrite").parquet(path)
    fr = spark.read.parquet(path)
    _clean(spark)
    t_plain = timed(
        lambda: frontier_topk(fr, NOW, max_per_bucket=5,
                              max_results=10_000).count(),
        warmup=True,
    )
    _clean(spark)
    t_salted = timed(
        lambda: frontier_topk_salted(fr, NOW, max_per_bucket=5,
                                     max_results=10_000, salt_buckets=32)
        .count(),
        warmup=True,
    )
    a = {(r.url,) for r in
         frontier_topk(fr, NOW, 5, 10_000).select("url").collect()}
    b = {(r.url,) for r in
         frontier_topk_salted(fr, NOW, 5, 10_000).select("url").collect()}
    assert a == b, "salted top-k diverged from plain top-k"
    shutil.rmtree(path, ignore_errors=True)
    return {"rows": n, "plain_sec": round(t_plain, 2),
            "salted_sec": round(t_salted, 2),
            "speedup": round(t_plain / t_salted, 2)}


def curve_status_merge(spark, tmp, sizes):
    from tools.baseline_bench import build_frontier_parquet

    from incubator_stormcrawler_spark.operators.status_merge import (
        merge_status_updates,
    )

    out = []
    for n in sizes:
        path = os.path.join(tmp, f"fm{n}")
        build_frontier_parquet(spark, path, n=n, hosts=max(n // 100, 100))
        frontier = spark.read.parquet(path)
        updates = spark.range(100_000).selectExpr(
            f"concat('https://host', cast(mod(id, {max(n // 100, 100)}) as string), "
            "'.example/p', cast(id * 11 as string)) as url",
            "case when mod(id, 10) < 5 then 'DISCOVERED' "
            "when mod(id, 10) < 8 then 'FETCHED' else 'FETCH_ERROR' end as status",
        )
        _clean(spark)
        sec = timed(
            lambda: merge_status_updates(frontier, updates, NOW)
            .agg(F.count(F.lit(1)), F.sum("error_count")).collect(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
        shutil.rmtree(path, ignore_errors=True)
    return out


def curve_merge_commit(spark, tmp, sizes):
    """The SECOND physical merge strategy: bucket-pruned MERGE into a
    bucket-partitioned FrontierTable — cost should track the TOUCHED
    buckets' rows, so absolute times stay well under the full-outer
    strategy as the table grows (updates span all buckets here, making
    this the worst case for pruning: every partition is touched)."""
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        FrontierTable,
    )

    def build(tdir, n, hosts):
        table = FrontierTable(tdir, partition_by="bucket")
        table.commit(spark.range(n).selectExpr(
            f"concat('https://host', cast(mod(id, {hosts}) as string), "
            "'.example/p', cast(id as string)) as url",
            "'DISCOVERED' as status",
            "timestamp '2024-01-08 00:00:00' as next_fetch_date",
            "0 as error_count",
            f"concat('host', cast(mod(id, {hosts}) as string), "
            "'.example') as key",
            "cast(mod(id, 10) as int) as bucket",
        ))
        return table

    # merge_commit mutates its table, so timed() can't re-run it for
    # warmup — warm the machinery once on a throwaway table instead
    warm = build(os.path.join(tmp, "mc_warm"), 10_000, 100)
    warm.merge_commit(spark, spark.createDataFrame(
        [("https://host1.example/p1", "FETCHED")],
        "url string, status string"), NOW)
    shutil.rmtree(os.path.join(tmp, "mc_warm"), ignore_errors=True)

    out = []
    for n in sizes:
        tdir = os.path.join(tmp, f"mc{n}")
        hosts = max(n // 100, 100)
        table = FrontierTable(tdir, partition_by="bucket")
        frontier = spark.range(n).selectExpr(
            f"concat('https://host', cast(mod(id, {hosts}) as string), "
            "'.example/p', cast(id as string)) as url",
            "'DISCOVERED' as status",
            "timestamp '2024-01-08 00:00:00' as next_fetch_date",
            "0 as error_count",
            f"concat('host', cast(mod(id, {hosts}) as string), '.example') as key",
            "cast(mod(id, 10) as int) as bucket",
        )
        table.commit(frontier)
        updates = spark.range(100_000).selectExpr(
            f"concat('https://host', cast(mod(id, {hosts}) as string), "
            "'.example/p', cast(id * 11 as string)) as url",
            "case when mod(id, 10) < 5 then 'DISCOVERED' "
            "when mod(id, 10) < 8 then 'FETCHED' else 'FETCH_ERROR' end as status",
        )
        _clean(spark)
        sec = timed(lambda: table.merge_commit(spark, updates, NOW))
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
        shutil.rmtree(tdir, ignore_errors=True)
    return out


def curve_merge_commit_one_bucket(spark, tmp, sizes):
    """The pruning PAYOFF: the update batch touches a single host (one
    bucket of 10), so merge_commit re-reads and rewrites ~1/10 of the
    table and hard-links the rest. The claim that makes pruned MERGE the
    100 TB path is that this cost tracks the TOUCHED slice, not the
    table — i.e. this curve should grow ~10× slower than the
    every-bucket one."""
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        FrontierTable,
    )

    out = []
    for n in sizes:
        tdir = os.path.join(tmp, f"mc1b{n}")
        hosts = max(n // 100, 100)
        table = FrontierTable(tdir, partition_by="bucket")
        table.commit(spark.range(n).selectExpr(
            f"concat('https://host', cast(mod(id, {hosts}) as string), "
            "'.example/p', cast(id as string)) as url",
            "'DISCOVERED' as status",
            "timestamp '2024-01-08 00:00:00' as next_fetch_date",
            "0 as error_count",
            f"concat('host', cast(mod(id, {hosts}) as string), "
            "'.example') as key",
            "cast(mod(id, 10) as int) as bucket",
        ))
        updates = spark.range(100_000).selectExpr(
            "concat('https://host0.example/p', cast(id * 11 as string)) "
            "as url",
            "case when mod(id, 10) < 5 then 'DISCOVERED' "
            "when mod(id, 10) < 8 then 'FETCHED' "
            "else 'FETCH_ERROR' end as status",
        )
        _clean(spark)
        sec = timed(lambda: table.merge_commit(spark, updates, NOW))
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
        shutil.rmtree(tdir, ignore_errors=True)
    return out


def substring_dedup_skew_ab(spark, n):
    """Hot-boilerplate A/B for the dup join-back: a uniform corpus vs one
    where 25% of docs share one identical 64-token boilerplate block (a
    single gram hash covering ~n/4 occurrences — the hot key the SMJ
    choice must survive via AQE skew-splitting; a window-over-hash
    formulation could never split it). PASS = the skewed corpus costs
    < 3× the uniform one."""
    from incubator_stormcrawler_spark.operators.dedup import substring_dedup

    uniform = synth_docs(spark, n).selectExpr(
        "doc_id", "text || ' ' || text as text"  # ~80 tokens, no dups
    )
    boiler = (
        "concat_ws(' ', transform(sequence(0, 63), j -> "
        "substr(md5('boiler-' || cast(j as string)), 1, 6)))"
    )
    words = (
        "concat_ws(' ', transform(sequence(0, 63), j -> "
        "substr(md5(cast(id as string) || '~' || cast(j as string)), 1, 6)))"
    )
    skewed = spark.range(n).selectExpr(
        "id as doc_id",
        f"case when mod(id, 4) = 0 then {boiler} || ' ' || {words} "
        f"else {words} end as text",
    )
    _clean(spark)
    t_uniform = timed(
        lambda: substring_dedup(uniform).agg(
            F.sum("n_removed"), F.count(F.lit(1))).collect(),
        warmup=True,
    )
    _clean(spark)
    t_skewed = timed(
        lambda: substring_dedup(skewed).agg(
            F.sum("n_removed"), F.count(F.lit(1))).collect(),
        warmup=True,
    )
    return {"rows": n, "uniform_sec": round(t_uniform, 2),
            "skewed_sec": round(t_skewed, 2),
            "ratio": round(t_skewed / t_uniform, 2)}


def curve_minhash(spark, sizes):
    from incubator_stormcrawler_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    out = []
    for n in sizes:
        docs = synth_docs(spark, n)
        _clean(spark)
        sec = timed(
            lambda: lsh_candidate_pairs(
                docs, num_hashes=8, band_rows=2, min_est_sim=0.5
            ).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_star_contraction(spark, sizes):
    from incubator_stormcrawler_spark.operators.corpus import (
        star_contraction_components,
    )

    out = []
    for n in sizes:
        pairs = synth_pairs(spark, n)
        _clean(spark)
        sec = timed(
            lambda: star_contraction_components(pairs).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_substring_dedup(spark, sizes):
    from incubator_stormcrawler_spark.operators.dedup import substring_dedup

    out = []
    for n in sizes:
        docs = synth_dup_docs(spark, n)
        _clean(spark)
        sec = timed(
            lambda: substring_dedup(docs).agg(
                F.sum("n_removed"), F.count(F.lit(1))
            ).collect(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_segment_dedup(spark, sizes):
    from incubator_stormcrawler_spark.operators.corpus import segment_dedup

    out = []
    for n in sizes:
        docs = synth_dup_docs(spark, n)
        _clean(spark)
        sec = timed(
            lambda: segment_dedup(docs).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_bm25(spark, sizes):
    from incubator_stormcrawler_spark.operators.corpus import bm25_search

    out = []
    for n in sizes:
        docs = synth_docs(spark, n)
        # query terms that actually occur: words of docs 1 and 2
        terms = [
            r[0] for r in docs.where("doc_id in (1, 2)")
            .selectExpr("explode(split(text, ' ')) w").limit(6).collect()
        ]
        _clean(spark)
        sec = timed(
            lambda: bm25_search(docs, terms, k=10).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_crawl_generation(spark, sizes):
    from tools.baseline_bench import bench_crawl_pipeline

    bench_crawl_pipeline(spark, n_pages=2_000, hosts=50)  # warm pool/JIT
    out = []
    for n in sizes:
        _clean(spark)
        r = bench_crawl_pipeline(spark, n_pages=n, hosts=max(n // 100, 100))
        out.append({"rows": n, "sec": r["spark_sec"],
                    "rows_per_sec": r["pages_per_sec"]})
    return out


def bloom_sharded_ab(spark, n: int) -> dict:
    """A/B/C the three membership plans in the CRAWL shape the operator is
    for: a large seen set (n keys) probed per generation by a much smaller
    candidate batch (n/16, half true members), with the Bloom bitmaps
    PREBUILT AND PERSISTED (untimed) — the bitmap is the asset a crawl
    amortizes across generations while the seen set changes slowly.
    Timed per generation: plain LEFT ANTI (re-shuffles the whole seen set
    every generation), the single-broadcast Bloom prefilter, and the
    bucket-sharded form (n_shards=8 — the shape that stays under the
    broadcast ceiling at 10^9 keys). Bitmaps sized ~10 bits/key. All
    three must return the same count (the rewrites are exact)."""
    from incubator_stormcrawler_spark.operators.dedup import (
        bloom_bitmap,
        bloom_bitmap_array,
        bloom_bitmap_sharded,
        bloom_unseen,
        bloom_unseen_broadcast,
        bloom_unseen_sharded,
    )

    n_shards = 8
    m_bits = 1 << max(16, (10 * n - 1).bit_length())
    seen = spark.range(n).selectExpr("md5(cast(id as string)) AS key")
    nb = n // 16
    cands = spark.range(n - nb // 2, n + nb // 2).selectExpr(
        "md5(cast(id as string)) AS key", "id AS payload"
    )
    expected = nb // 2
    bm = bloom_bitmap(seen, "key", m_bits=m_bits).persist()
    bm_sh = bloom_bitmap_sharded(
        seen, "key", n_shards, m_bits=m_bits // n_shards
    ).persist()
    bm.count(), bm_sh.count()  # build once, untimed
    bm_arr = bloom_bitmap_array(seen, "key", m_bits=m_bits)
    out: dict[str, object] = {
        "seen": n, "batch": nb, "m_bits": m_bits, "n_shards": n_shards,
    }
    anti = lambda: cands.join(seen, "key", "left_anti").count()
    single = lambda: bloom_unseen(
        seen, cands, "key", m_bits=m_bits, bitmap=bm
    ).count()
    shard = lambda: bloom_unseen_sharded(
        seen, cands, "key", n_shards=n_shards, m_bits=m_bits // n_shards,
        bitmap=bm_sh,
    ).count()
    bc = lambda: bloom_unseen_broadcast(
        seen, cands, "key", m_bits=m_bits, bitmap_array=bm_arr
    ).count()
    for name, fn in (("left_anti", anti), ("bloom_single", single),
                     ("bloom_sharded8", shard), ("bloom_broadcast", bc)):
        cnt = fn()  # warm + correctness
        assert cnt == expected, (name, cnt, expected)
        out[name + "_sec"] = round(timed(fn, warmup=False), 2)
    bm.unpersist(), bm_sh.unpersist()
    return out


def recursive_crawl_main():
    """`--recursive-crawl`: run the FULL multi-generation crawl (seeds →
    exhaustion) at 100k and 1M pages and merge a `recursive_crawl` entry
    into the existing SCALING.json (the curve run is hours; this mode
    leaves its results untouched)."""
    from tools.baseline_bench import bench_recursive_crawl

    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-crawl")
    spark.sparkContext.setLogLevel("ERROR")
    bench_recursive_crawl(spark, n_pages=5_000, hosts=100)  # warm pool/JIT
    points = []
    for n in (100_000, 1_000_000):
        r = bench_recursive_crawl(spark, n_pages=n, hosts=1000, fanout=8)
        assert r["exactly_once"], r
        print(f"## recursive_crawl n={n}: {r['generations']} generations, "
              f"{r['wall_sec']}s, {r['pages_per_sec']} pages/s, "
              f"exactly_once={r['exactly_once']}", flush=True)
        for g in r["per_generation"]:
            print(f"   {g}", flush=True)
        points.append(r)
    merge_scaling({"recursive_crawl": {"points": points}})
    print(f"merged recursive_crawl into {path}")


def curve_zorder(spark, tmp, sizes):
    """zorder_rewrite cost curve — the one range shuffle (with its
    sampling pass) + local sorts any clustering rewrite pays. Two-column
    synthetic (independent uniform dims, the layout's worst case for a
    single-column sort), 64 output files; per point also records the
    measured file-skipping ratio for a quadrant box predicate from the
    REAL parquet footers the rewrite produced."""
    import glob

    import pyarrow.parquet as pq

    from incubator_stormcrawler_spark.operators.layout import zorder_rewrite

    out = []
    for n in sizes:
        df = spark.range(n).selectExpr(
            "cast(pmod(xxhash64(id), 1000000) as bigint) as a",
            "cast(pmod(xxhash64(id + 7), 1000000) as bigint) as b",
        )
        path = os.path.join(tmp, f"zorder_{n}")
        _clean(spark)
        t0 = time.time()
        zorder_rewrite(df, ["a", "b"], path, n_files=64, bits=10)
        sec = time.time() - t0
        pruned = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            total += 1
            mins = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    mins[c.path_in_schema] = min(
                        mins.get(c.path_in_schema, c.statistics.min),
                        c.statistics.min,
                    )
            # quadrant box: a < 250k AND b < 250k — prunable when either
            # dimension's file-min clears the bound
            if mins["a"] > 250_000 or mins["b"] > 250_000:
                pruned += 1
        shutil.rmtree(path, ignore_errors=True)
        out.append({
            "rows": n, "sec": round(sec, 2), "rows_per_sec": int(n / sec),
            "files": total,
            "skip_ratio": round(pruned / total, 2) if total else 0.0,
        })
        print(f"   {out[-1]}", flush=True)
    return out


def curve_hilbert(spark, tmp, sizes):
    """hilbert_rewrite cost + head-to-head vs zorder_rewrite at every
    size: same one-range-shuffle rewrite shape, so the cost ratio should
    stay ~1 while the LAYOUT metric — sum of per-file footer bounding-box
    areas on SKEWED data under equal-count files (what
    repartitionByRange produces) — should stay strictly tighter for
    Hilbert (connected key slices) as rows grow. Skew is the product of
    two hash-driven one-sided distributions (min of two uniform hashes)
    so the data is deterministic, cheap at 64M rows, and seam-straddling
    actually happens."""
    import glob

    import pyarrow.parquet as pq

    from incubator_stormcrawler_spark.operators.layout import (
        hilbert_rewrite,
        zorder_rewrite,
    )

    def bbox_sum(d):
        tot = 0
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            mins, maxs = {}, {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    nm, st = c.path_in_schema, c.statistics
                    mins[nm] = min(mins.get(nm, st.min), st.min)
                    maxs[nm] = max(maxs.get(nm, st.max), st.max)
            tot += ((maxs["a"] - mins["a"] + 1)
                    * (maxs["b"] - mins["b"] + 1))
        return tot

    out = []
    for n in sizes:
        # one-sided skew per dim: min of two independent uniform hashes
        # concentrates mass near 0 (quadratic CDF) without RNG state
        df = spark.range(n).selectExpr(
            "cast(least(pmod(xxhash64(id), 1000000),"
            " pmod(xxhash64(id + 3), 1000000)) as bigint) as a",
            "cast(least(pmod(xxhash64(id + 7), 1000000),"
            " pmod(xxhash64(id + 11), 1000000)) as bigint) as b",
        )
        hp = os.path.join(tmp, f"hil_{n}")
        zp = os.path.join(tmp, f"zor_{n}")
        _clean(spark)
        t0 = time.time()
        hilbert_rewrite(df, ["a", "b"], hp, n_files=64, bits=10)
        h_sec = time.time() - t0
        _clean(spark)
        t0 = time.time()
        zorder_rewrite(df, ["a", "b"], zp, n_files=64, bits=10)
        z_sec = time.time() - t0
        h_area, z_area = bbox_sum(hp), bbox_sum(zp)
        shutil.rmtree(hp, ignore_errors=True)
        shutil.rmtree(zp, ignore_errors=True)
        out.append({
            "rows": n, "sec": round(h_sec, 2),
            "rows_per_sec": int(n / h_sec),
            "zorder_sec": round(z_sec, 2),
            "bbox_area_ratio_z_over_h": round(z_area / h_area, 3),
        })
        print(f"   {out[-1]}", flush=True)
    return out


def curve_redirect_resolve(spark, sizes):
    """redirect_resolve cost curve: n-row redirect sets whose chains run
    up to 63 hops (i -> i-1 within 64-aligned blocks) plus a planted
    3-cycle — the pointer-doubling claim is that ROUND COUNT stays at
    ceil(log2(max_hops)) = 6 while rows grow, so wall time tracks the
    6 self-joins (~linear in rows), never the 63 one-hop iterations."""
    from incubator_stormcrawler_spark.operators.linkrank import (
        redirect_resolve,
    )

    out = []
    for n in sizes:
        edges = spark.range(n).selectExpr(
            "id as src",
            "case when id % 64 = 0 then id else id - 1 end as dst",
        ).where("id % 64 != 0")
        cyc = spark.range(3).selectExpr(
            f"cast({n} + id as bigint) as src",
            f"cast({n} + (id + 1) % 3 as bigint) as dst",
        )
        _clean(spark)
        t0 = time.time()
        res = redirect_resolve(edges.unionByName(cyc), max_hops=64)
        agg = res.selectExpr(
            "sum(resolved) as n_resolved",
            "sum(case when resolved = 0 then 1 else 0 end) as n_cycle",
            "max(hops) as max_hops",
        ).collect()[0]
        sec = time.time() - t0
        assert agg.n_cycle == 3, agg
        assert agg.max_hops == 63, agg
        out.append({
            "rows": n, "sec": round(sec, 2),
            "rows_per_sec": int(n / sec),
            "resolved": int(agg.n_resolved),
        })
        print(f"   {out[-1]}", flush=True)
    return out


def curve_weighted_minhash(spark, sizes):
    """weighted_minhash_signatures cost curve on a REPEATED-token corpus
    (40 tokens per doc over a 10-word per-doc vocabulary, tf ~ 4, so the
    clipped integer-weight expansion genuinely multiplies): tf_terms +
    the expansion + the one partial-aggregable groupBy with 8 parallel
    mins. The claim is the same linear shape as plain MinHash — the
    expansion factor is bounded by min(tf, max_weight) and everything
    stays in the single groupBy pass."""
    from incubator_stormcrawler_spark.operators.dedup import (
        tf_terms,
        weighted_minhash_signatures,
    )

    words = (
        "concat_ws(' ', transform(sequence(0, 39), j -> "
        "substr(md5(cast(id as string) || '-' ||"
        " cast(j % 10 as string)), 1, 6)))"
    )
    out = []
    for n in sizes:
        docs = spark.range(n).selectExpr(
            "id as doc_id", f"{words} as text"
        )
        _clean(spark)
        sec = timed(
            lambda: weighted_minhash_signatures(
                tf_terms(docs), num_hashes=8, hash_fn="xxhash64"
            ).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
        print(f"   {out[-1]}", flush=True)
    return out


def weighted_minhash_main():
    """`--wmh`: weighted-MinHash signature-build cost curve, merged as
    weighted_minhash."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-wmh")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_weighted_minhash(
        spark, [100_000, 400_000, 1_600_000]
    )
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## weighted_minhash: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"weighted_minhash": entry})
    print(f"merged weighted_minhash into {path}")


def curve_corpus_cluster(spark, tmp, sizes):
    """write_clustered_corpus cost + real-footer skip ratio vs the
    natural write at every size: synthetic documents with 64 skewed
    sources (md5 residue), 8 langs, n_chars 0..999. The scan is the
    maintenance shape the consumer exists for — ONE source + a length
    band — plus the same predicate against the natural doc_id-ordered
    layout. Claim: a flat-ish rewrite multiple over the natural write
    and a majority footer-skip ratio at every size (the string dim
    prunes because the lex dense index, not a hash, ordered the
    cells)."""
    import glob

    import pyarrow.parquet as pq

    from incubator_stormcrawler_spark.operators.layout import (
        write_clustered_corpus,
    )

    def skip(d):
        p = t = 0
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            t += 1
            mm: dict = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    k = c.path_in_schema
                    lo, hi = c.statistics.min, c.statistics.max
                    mm[k] = (
                        (min(mm[k][0], lo), max(mm[k][1], hi))
                        if k in mm
                        else (lo, hi)
                    )
            if (
                ("src07" < mm["source"][0] or "src07" > mm["source"][1])
                or mm["n_chars"][1] < 300
                or mm["n_chars"][0] > 500
            ):
                p += 1
        return p, t

    out = []
    for n in sizes:
        docs = spark.range(n).selectExpr(
            "id as doc_id",
            "concat('src', lpad(cast(cast(conv(substr(md5(cast(id as"
            " string)), 1, 8), 16, 10) as bigint) % 64 as string), 2,"
            " '0')) as source",
            "element_at(array('en','de','es','fr','zh','ru','pt','ja'),"
            " cast(id % 8 as int) + 1) as lang",
            "cast(conv(substr(md5(cast(id as string)), 9, 8), 16, 10) as"
            " bigint) % 1000 as n_chars",
        )
        nat, hil = f"{tmp}/nat{n}", f"{tmp}/hil{n}"
        _clean(spark)
        t_nat = timed(
            lambda: docs.repartition(64)
            .write.mode("overwrite")
            .parquet(nat),
            warmup=(n == sizes[0]),
        )
        _clean(spark)
        t_hil = timed(
            lambda: write_clustered_corpus(
                docs, ["source", "lang", "n_chars"], hil,
                n_files=64, bits=6,
            )
        )
        pc, tc = skip(hil)
        pn, tn = skip(nat)
        out.append({
            "rows": n,
            "sec": round(t_hil, 2),
            "natural_sec": round(t_nat, 2),
            "multiple": round(t_hil / t_nat, 2),
            "skip_clustered": f"{pc}/{tc}",
            "skip_natural": f"{pn}/{tn}",
            "rows_per_sec": int(n / t_hil),
        })
        print(f"   {out[-1]}", flush=True)
    return out


def corpus_cluster_main():
    """`--corpus-cluster`: clustered corpus-shard write cost + footer
    skip vs natural, merged as corpus_cluster_write."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-corpus-cluster")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_bench_ccluster_")
    try:
        pts = curve_corpus_cluster(
            spark, tmp, [1_000_000, 4_000_000, 16_000_000]
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## corpus_cluster_write: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"corpus_cluster_write": entry})
    print(f"merged corpus_cluster_write into {path}")


def curve_redirect_incremental(spark, sizes):
    """incremental_redirect_resolve cost curve — the r11 verdict item 4
    'Done' criterion: per-generation advance cost stays FLAT as the
    accumulated resolved map grows. For each accumulated size N the
    prior map is a full resolve over N rows of 64-block chains
    (i -> i-1, multiples of 64 terminal), materialized to parquet the
    way the crawl loop stores it; the measured step then advances it
    with a FIXED delta — 1,000 terminal extensions (invalidating their
    63-row chains: the de-terminalization class) + 25,000 brand-new
    chain edges + a 3-cycle. The doubling runs over the ~88k-row G0
    regardless of N; only the prior-map scans (classification joins +
    the store anti-join) grow with N, so alpha should sit far below the
    full re-resolve's ~0.7."""
    import shutil
    import tempfile

    from incubator_stormcrawler_spark.operators.linkrank import (
        incremental_redirect_resolve,
        redirect_resolve,
    )

    tmp = tempfile.mkdtemp(prefix="scale_redirect_inc_")
    out = []
    try:
        for n in sizes:
            edges = spark.range(n).selectExpr(
                "id as src", "id - 1 as dst"
            ).where("id % 64 != 0")
            h: list = []
            prior_path = f"{tmp}/prior_{n}"
            redirect_resolve(
                edges, max_hops=64, cache_handle=h
            ).write.mode("overwrite").parquet(prior_path)
            for c in h:
                c.unpersist(False)
            prior = spark.read.parquet(prior_path)
            # fixed delta: extend the first 1000 terminals, add 25k new
            # chain edges above N, plant a cycle
            ext = spark.range(1, 1001).selectExpr(
                "id * 64 as src", "id * 64 - 1 as dst"
            )
            new_chains = spark.range(n + 64, n + 64 + 25_000).selectExpr(
                "id as src", "id - 1 as dst"
            ).where("id % 64 != 0")
            cyc_base = n + 10_000_000
            cyc = spark.range(3).selectExpr(
                f"cast({cyc_base} + id as bigint) as src",
                f"cast({cyc_base} + (id + 1) % 3 as bigint) as dst",
            )
            delta = ext.unionByName(new_chains).unionByName(cyc)
            _clean(spark)
            t0 = time.time()
            h2: list = []
            res = incremental_redirect_resolve(
                prior, delta, max_hops=64, cache_handle=h2
            )
            agg = res.selectExpr(
                "count(*) as n_rows",
                "sum(resolved) as n_resolved",
                "sum(case when resolved = 0 then 1 else 0 end)"
                " as n_unresolved",
            ).collect()[0]
            sec = time.time() - t0
            for c in h2:
                c.unpersist(False)
            assert agg.n_unresolved >= 3, agg  # the cycle at minimum
            out.append({
                "rows": n, "sec": round(sec, 2),
                "rows_per_sec": int(n / sec),
                "map_rows": int(agg.n_rows),
                "resolved": int(agg.n_resolved),
            })
            print(f"   {out[-1]}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def redirect_incremental_main():
    """`--redirect-incremental`: per-generation advance cost vs
    accumulated map size, merged as redirect_incremental."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-redirect-inc")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_redirect_incremental(
        spark, [4_000_000, 16_000_000, 64_000_000]
    )
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## redirect_incremental: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"redirect_incremental": entry})
    print(f"merged redirect_incremental into {path}")


def curve_neardedup_incremental(spark, sizes):
    """incremental_lsh_dedup cost curve on the STORED-BAND-KEY path —
    the r12 verdict item 1 'Done' criterion: per-generation near-dedup
    cost stays FLAT as the signature store grows. For each store size N
    (signature ROWS = docs × 8 hashes) the side store is synthesized
    the way the crawl loop persists it — a (doc_id, h, v) signature
    table plus its (doc_id, b, bkey) band-key table (band keys built at
    store-construction time; that one groupBy is exactly the cost the
    steady state no longer pays) — and the measured step matches a
    FIXED 25k-doc batch (1,000 planted exact near-dups of store docs +
    24k uniques) against it via ``index_bands``. Every store-touching
    stage is scan + join with the batch side broadcastable: no
    store-sized aggregation, so the curve should track the parquet scan
    only (the redirect_incremental treatment). At the largest size an
    A/B against the legacy store-banding path quantifies the win."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.operators.dedup import (
        band_keys,
        incremental_lsh_dedup,
    )

    tmp = tempfile.mkdtemp(prefix="scale_neardedup_inc_")
    out = []
    try:
        # the FIXED batch: doc b{j} for j < 1000 copies store doc s{j}'s
        # signatures exactly (est_sim 1.0 planted pairs); the rest are
        # unique. Identical across store sizes, so deltas measure the
        # store, not the batch.
        batch_path = f"{tmp}/batch_sigs"
        (
            spark.range(25_000)
            .selectExpr("id", "explode(sequence(0, 7)) as h")
            .selectExpr(
                "concat('b', id) as doc_id",
                "h",
                "md5(concat(if(id < 1000, concat('s', id), concat('b', id)),"
                " '|', h)) as v",
            )
            .write.mode("overwrite")
            .parquet(batch_path)
        )
        for n in sizes:
            n_docs = n // 8
            sig_path, band_path = f"{tmp}/sigs_{n}", f"{tmp}/bands_{n}"
            sigs = spark.range(n_docs).selectExpr(
                "concat('s', id) as doc_id",
                "explode(sequence(0, 7)) as h",
            ).selectExpr(
                "doc_id", "h", "md5(concat(doc_id, '|', h)) as v"
            )
            sigs.write.mode("overwrite").parquet(sig_path)
            band_keys(spark.read.parquet(sig_path)).write.mode(
                "overwrite"
            ).parquet(band_path)
            index_sigs = spark.read.parquet(sig_path)
            index_bands = spark.read.parquet(band_path)
            batch_sigs = spark.read.parquet(batch_path)
            _clean(spark)
            t0 = time.time()
            pairs = incremental_lsh_dedup(
                None,  # batch_sigs passed directly; docs never shingled
                index_sigs,
                min_est_sim=0.9,
                batch_sigs=batch_sigs,
                index_bands=index_bands,
            )
            n_pairs = pairs.count()
            sec = time.time() - t0
            assert n_pairs == 1000, n_pairs  # exactly the planted dups
            pt = {
                "rows": n, "sec": round(sec, 2),
                "rows_per_sec": int(n / sec),
                "store_docs": n_docs, "batch_docs": 25_000,
                "pairs": n_pairs,
            }
            if n == max(sizes):
                # A/B: the legacy path re-bands the whole store
                _clean(spark)
                t0 = time.time()
                legacy = incremental_lsh_dedup(
                    None, index_sigs, min_est_sim=0.9,
                    batch_sigs=batch_sigs,
                )
                assert legacy.count() == 1000
                pt["legacy_store_groupby_sec"] = round(time.time() - t0, 2)
            out.append(pt)
            print(f"   {out[-1]}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def curve_resolved_map_write(spark, tmp, sizes):
    """ResolvedMapStore commit cost — the r12 verdict item 2 'Done'
    criterion: the per-generation snapshot write tracks the DELTA, not
    the map. The map has RESOLVED_MAP_BUCKETS buckets, so a fixed
    16-url delta touches ≤ 16 of them and every other bucket hard-links.
    The A/B full (unpruned) write at each size shows what the r12 loop
    paid every generation."""
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        RESOLVED_MAP_BUCKETS as nb,
        ResolvedMapStore,
    )

    out = []
    for n in sizes:
        store = ResolvedMapStore(f"{tmp}/map_{n}")
        base = spark.range(n).selectExpr(
            "concat('u', id) as url",
            "concat('t', id % 1000) as target",
            "cast(1 as bigint) as hops",
            "cast(1 as int) as resolved",
        )
        store.write(base)
        prior = store.read(spark)
        changed = spark.range(8).selectExpr(
            "concat('u', id * 1001) as url"
        )
        fresh = spark.range(8).selectExpr(
            "concat('new', id) as url", "'tN' as target",
            "cast(2 as bigint) as hops", "cast(1 as int) as resolved",
        )
        new_map = (
            prior.join(changed, "url", "left_anti")
            .unionByName(changed.selectExpr(
                "url", "'tC' as target", "cast(9 as bigint) as hops",
                "cast(1 as int) as resolved"))
            .unionByName(fresh)
        )
        delta = changed.unionByName(fresh.select("url"))
        _clean(spark)
        t0 = time.time()
        v = store.write(new_map, changed=delta)
        sec = time.time() - t0
        assert store.read(spark).count() == n + 8
        # A/B: the unpruned full rewrite of the SAME map (re-read from
        # the committed snapshot — new_map's plan lineage points at the
        # vacuumed prior version and must not be re-executed)
        _clean(spark)
        t0 = time.time()
        store.write(store.read(spark))
        sec_full = time.time() - t0
        out.append({
            "rows": n, "sec": round(sec, 2),
            "rows_per_sec": int(n / sec),
            "n_buckets": nb, "delta_rows": 16,
            "full_write_sec": round(sec_full, 2),
            "version": v,
        })
        print(f"   {out[-1]}", flush=True)
    return out


def curve_index_upsert(spark, tmp, sizes):
    """IndexTable commit cost: a generation's index upsert tracks the
    BATCH, not the accumulated index. For each index size N (docs) the
    segment log gets a one-segment base, then the measured step upserts
    a FIXED 25k-doc batch: an O(batch) segment append that never reads
    the store. The read-side price of the log (newest-wins window over
    base + delta) is probed alongside, bounded in the loop by the
    compact_every cadence."""
    from incubator_stormcrawler_spark.operators.indexing import IndexTable

    def synth_docs_sql(n, prefix):
        return spark.range(n).selectExpr(
            f"concat('https://{prefix}', id, '.example/p') as url",
            "concat('t', id) as title",
            "concat('body ', id, ' lorem ipsum dolor sit') as text",
        )

    out = []
    for n in sizes:
        log = IndexTable(f"{tmp}/log_{n}")
        log.upsert(synth_docs_sql(n, "base"))  # one-segment base
        batch = synth_docs_sql(25_000, "fresh").localCheckpoint(eager=True)
        _clean(spark)
        t0 = time.time()
        log.upsert(batch)
        sec = time.time() - t0
        t0 = time.time()
        n_resolved = log.read(spark).count()
        sec_read = time.time() - t0
        assert n_resolved == n + 25_000, n_resolved
        out.append({
            "rows": n, "sec": round(sec, 2),
            "rows_per_sec": int(n / sec),
            "batch_docs": 25_000,
            "read_resolve_sec": round(sec_read, 2),
        })
        print(f"   {out[-1]}", flush=True)
        shutil.rmtree(f"{tmp}/log_{n}", ignore_errors=True)
    return out


def index_upsert_main():
    """`--index-upsert`: segment-log index commit cost vs index size,
    merged as index_upsert."""
    import shutil
    import tempfile

    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-index-upsert")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_index_upsert_")
    try:
        pts = curve_index_upsert(
            spark, tmp, [4_000_000, 16_000_000, 64_000_000]
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## index_upsert: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"index_upsert": entry})
    print(f"merged index_upsert into {path}")


def resolved_map_write_main():
    """`--resolved-map-write`: bucket-pruned resolved-map commit cost vs
    map size, merged as resolved_map_write."""
    import shutil
    import tempfile

    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-resolved-map")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_resolved_map_")
    try:
        pts = curve_resolved_map_write(
            spark, tmp, [4_000_000, 16_000_000, 64_000_000]
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## resolved_map_write: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"resolved_map_write": entry})
    print(f"merged resolved_map_write into {path}")


def neardedup_incremental_main():
    """`--neardedup-incremental`: fixed-batch near-dedup cost vs
    signature-store size on the stored-band-key path, merged as
    neardedup_incremental."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-neardedup-inc")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_neardedup_incremental(
        spark, [4_000_000, 16_000_000, 64_000_000]
    )
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## neardedup_incremental: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"neardedup_incremental": entry})
    print(f"merged neardedup_incremental into {path}")


def redirect_main():
    """`--redirect`: pointer-doubling chain resolution cost curve,
    merged as redirect_resolve."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-redirect")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_redirect_resolve(
        spark, [4_000_000, 16_000_000, 64_000_000]
    )
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## redirect_resolve: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"redirect_resolve": entry})
    print(f"merged redirect_resolve into {path}")


def hilbert_main():
    """`--hilbert`: Hilbert rewrite cost + footer-tightness head-to-head
    vs Z-order on skewed data, merged as hilbert_rewrite."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-hilbert")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_bench_hilbert_")
    try:
        pts = curve_hilbert(spark, tmp, [4_000_000, 16_000_000,
                                         64_000_000])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## hilbert_rewrite: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"hilbert_rewrite": entry})
    print(f"merged hilbert_rewrite into {path}")


def zorder_main():
    """`--zorder`: clustering-rewrite cost + real-footer skipping ratio,
    merged as zorder_rewrite."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-zorder")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_bench_zorder_")
    try:
        pts = curve_zorder(spark, tmp, [4_000_000, 16_000_000, 64_000_000])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## zorder_rewrite: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"zorder_rewrite": entry})
    print(f"merged zorder_rewrite into {path}")


def full_stack_crawl_main():
    """`--crawl-full-stack`: the whole feature surface ON at once —
    rank-prioritized bucket choice, politeness forecast sizing (no-op cap
    at server_delay 0: coverage must stay identical), per-generation
    WARC archiving, the live index with the deletion stream, and (since
    r13) incremental MinHash near-dedup on the index stream with its
    band-key side store — run to exhaustion at 100k pages with the
    exactly-once checks. The measurement is the integration overhead vs
    the plain crawl; the assertion is that FIVE features composed do not
    bend exactly-once (near-dedup only filters
    the INDEX stream — fetch counts and frontier state must be
    untouched by it)."""
    import shutil as _shutil
    import tempfile as _tempfile

    from tools.baseline_bench import bench_recursive_crawl

    from incubator_stormcrawler_spark.operators.indexing import IndexTable
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-fullstack")
    spark.sparkContext.setLogLevel("ERROR")
    bench_recursive_crawl(spark, n_pages=5_000, hosts=100)  # warm
    plain = bench_recursive_crawl(
        spark, n_pages=100_000, hosts=1000, fanout=8
    )
    assert plain["exactly_once"], plain
    tmp = _tempfile.mkdtemp(prefix="crawl_fullstack_")
    try:
        full = bench_recursive_crawl(
            spark, n_pages=100_000, hosts=1000, fanout=8,
            rank_priority=True,
            rank_refresh_every=3,
            forecast_sizing=True,
            forecast_horizon_s=3600.0,
            warc_dir=os.path.join(tmp, "warcs"),
            # the 100 TB index mode: O(batch) segment appends, cadenced
            # compaction instead of a full rewrite per generation
            index=IndexTable(os.path.join(tmp, "index")),
            near_dedup=True,
            compact_every=3,
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    assert full["exactly_once"], full
    entry = {
        "plain": {k: plain[k] for k in (
            "n_pages", "generations", "wall_sec", "pages_per_sec",
            "exactly_once")},
        "full_stack": {k: full[k] for k in (
            "n_pages", "generations", "wall_sec", "pages_per_sec",
            "exactly_once")},
        "overhead_x": round(full["wall_sec"] / plain["wall_sec"], 2),
        "features": ["rank_priority", "forecast_sizing", "warc",
                     "log_structured_index+deletions", "near_dedup"],
    }
    print(f"## full_stack_crawl: {entry}", flush=True)
    path = merge_scaling({"full_stack_crawl": entry})
    print(f"merged full_stack_crawl into {path}")


def curve_countmin(spark, sizes):
    """Grid build + top-100 point queries per size. The grid is
    depth*width rows no matter the corpus, so the curve should track the
    single explode+groupBy scan — alpha ~1 linear, high rows/s."""
    from incubator_stormcrawler_spark.operators.corpus import (
        countmin_estimate,
        countmin_table,
    )

    out = []
    for n in sizes:
        terms = spark.range(n).selectExpr(
            # zipf-ish: low ids recur constantly, tail is near-unique
            "concat('t', cast(id % greatest(1000, id div 50) as string))"
            " as term"
        )
        vals = terms.limit(100).distinct()
        _clean(spark)

        def run():
            grid = countmin_table(terms, "term", depth=3, width=4096)
            countmin_estimate(grid, vals, "term", depth=3,
                              width=4096).count()

        sec = timed(run, warmup=(n == sizes[0]))
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_dsir(spark, sizes):
    """DSIR selection over synthetic two-domain docs (half the corpus
    'target-flavored' vocabulary). Work is one bigram explode + two
    partial aggs + a broadcast ratio join — alpha should stay ~linear in
    tokens."""
    from incubator_stormcrawler_spark.operators.corpus import dsir_resample

    out = []
    for n in sizes:
        docs = spark.range(n).selectExpr(
            "id as doc_id",
            "case when id % 2 = 0 then 'en' else 'xx' end as lang",
            "concat_ws(' ', transform(sequence(0, 39), j -> concat("
            "case when id % 2 = 0 then 'e' else 'x' end, "
            "cast((id * 7 + j) % 5000 as string)))) as text",
        )
        _clean(spark)
        sec = timed(
            lambda: dsir_resample(
                docs, "lang = 'en'", n_buckets=1024, top_n=100
            ).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_shard_overlap(spark, sizes, n_shards: int = 16):
    """Shard-level MinHash corpus similarity: signature build (ONE
    explode + groupBy with 16 parallel min aggs over the shingle stream)
    + the shards²-sized sketch-space pair stage. Pair cost is constant,
    so the curve should track the shingle scan — alpha ~1, and rows/s
    should hold as the corpus grows 16x."""
    from incubator_stormcrawler_spark.operators.dedup import (
        shard_minhash,
        shard_similarity_pairs,
    )

    out = []
    for n in sizes:
        docs = synth_docs(spark, n).selectExpr(
            "doc_id", f"doc_id % {n_shards} as shard", "text"
        )
        _clean(spark)
        sec = timed(
            lambda: shard_similarity_pairs(
                shard_minhash(docs, "shard", num_hashes=16, n=3)
            ).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_hll_overlap(spark, sizes, n_groups: int = 16):
    """HLL pairwise overlap: the one partial-aggregable register pass
    over the value stream + the groups²-pair inclusion-exclusion in
    sketch space (n_groups * 64 register rows TOTAL). Planted 50%
    inter-group value overlap so intersections are non-trivial. Pair
    cost is size-independent; the curve should track the register
    scan."""
    from incubator_stormcrawler_spark.operators.corpus import (
        hll_overlap_pairs,
        hll_registers,
    )

    out = []
    for n in sizes:
        vals = spark.range(n).selectExpr(
            f"id % {n_groups} as grp",
            # id div 2 halves the value space per group -> neighbours
            # share ~50% of their distinct values
            "concat('v', cast(id div 2 as string)) as v",
        )
        _clean(spark)
        sec = timed(
            lambda: hll_overlap_pairs(
                hll_registers(vals, "grp", "v", m=64), m=64
            ).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_linear_score(spark, sizes, n_buckets: int = 65536):
    """Hashed linear classifier scoring: token explode + broadcast
    weight-dim join + one partial-aggregable groupBy(doc). Work is
    linear in tokens with a constant broadcast — alpha ~1, throughput
    flat-to-rising as fixed costs amortize."""
    from incubator_stormcrawler_spark.operators.corpus import (
        hashed_linear_score,
        hashed_weight_table,
    )

    weights = hashed_weight_table(spark, n_buckets)
    out = []
    for n in sizes:
        docs = synth_docs(spark, n)
        _clean(spark)
        sec = timed(
            lambda: hashed_linear_score(
                docs, weights, n_buckets
            ).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def classifier_main():
    """`--classifier`: measure hashed_linear_score at 3 sizes spanning
    16x; merge a `linear_score` entry into SCALING.json."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-classifier")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_linear_score(spark, [400_000, 1_600_000, 6_400_000])
    results = {"linear_score": {"points": pts, "alpha": alpha(pts)}}
    print(f"## linear_score: alpha={results['linear_score']['alpha']}",
          flush=True)
    for p in pts:
        print(f"   {p}", flush=True)
    path = merge_scaling(results)
    print(f"merged linear_score into {path}")


def overlap_sketches_main():
    """`--overlap-sketches`: measure the late-r8 corpus-overlap
    additions (shard MinHash similarity, HLL inclusion-exclusion) at 3
    sizes spanning 16x; merge `shard_overlap` / `hll_overlap` entries
    into the existing SCALING.json."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-overlap")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for name, fn in (
        ("shard_overlap",
         lambda: curve_shard_overlap(
             spark, [100_000, 400_000, 1_600_000])),
        ("hll_overlap",
         lambda: curve_hll_overlap(
             spark, [1_000_000, 4_000_000, 16_000_000])),
    ):
        pts = fn()
        results[name] = {"points": pts, "alpha": alpha(pts)}
        print(f"## {name}: alpha={results[name]['alpha']}", flush=True)
        for p in pts:
            print(f"   {p}", flush=True)
    path = merge_scaling(results)
    print(f"merged shard_overlap/hll_overlap into {path}")


def sketches_main():
    """`--sketches`: measure the r8 sketch/selection additions
    (Count-Min, DSIR) at 3 sizes spanning 16x and merge `countmin` /
    `dsir_resample` entries into the existing SCALING.json."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-sketches")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for name, fn in (
        ("countmin",
         lambda: curve_countmin(spark, [400_000, 1_600_000, 6_400_000])),
        ("dsir_resample",
         lambda: curve_dsir(spark, [100_000, 400_000, 1_600_000])),
    ):
        pts = fn()
        results[name] = {"points": pts, "alpha": alpha(pts)}
        print(f"## {name}: alpha={results[name]['alpha']}", flush=True)
        for p in pts:
            print(f"   {p}", flush=True)
    path = merge_scaling(results)
    print(f"merged countmin/dsir_resample into {path}")


def curve_trustrank(spark, sizes):
    """5-iteration TrustRank on the same Erdos-Renyi-ish graph as the
    kcore curve (mean degree ~8), seeds = 1000 node ids — per iteration
    one shuffle (edge⋈rank + partial-aggregable sum), trust vector
    broadcast-joined once."""
    from incubator_stormcrawler_spark.operators.linkrank import trustrank

    out = []
    for n in sizes:
        m = max(n // 8, 1000)
        edges = spark.range(n).selectExpr(
            f"cast(pmod(xxhash64(id), {m}) as bigint) as src",
            f"cast(pmod(xxhash64(id + {n}), {m}) as bigint) as dst",
        )
        seeds = spark.range(1000).selectExpr("id as node")
        _clean(spark)
        sec = timed(
            lambda: trustrank(edges, seeds, iterations=5).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_seed_distance(spark, sizes):
    """Multi-source BFS from 1000 seeds on the same random graph — per
    round one shuffle on the reached set; a mean-degree-8 graph reaches
    everything in a handful of rounds, then the early exit fires."""
    from incubator_stormcrawler_spark.operators.linkrank import seed_distance

    out = []
    for n in sizes:
        m = max(n // 8, 1000)
        edges = spark.range(n).selectExpr(
            f"cast(pmod(xxhash64(id), {m}) as bigint) as src",
            f"cast(pmod(xxhash64(id + {n}), {m}) as bigint) as dst",
        )
        seeds = spark.range(1000).selectExpr("id as node")
        _clean(spark)
        sec = timed(
            lambda: seed_distance(edges, seeds, max_hops=10).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def _synth_vectors(spark, n: int, dim: int = 64):
    """Cheap deterministic 64-dim float vectors (integer-arithmetic
    elements — generation must not dominate the op being measured)."""
    elems = ", ".join(
        f"cast((id * {3 + j} + {j * j}) % 997 as double) / 997"
        for j in range(dim)
    )
    return spark.range(n).selectExpr(
        "id as vec_id", f"array({elems}) as embedding"
    )


def curve_random_projection(spark, sizes):
    """JL projection 64→8 dims, unroll=True (the scale-path form: the
    ~2.5 s janino compile amortizes above ~1M vectors and per-row
    execution is 2.2× the interpreted fold) — no shuffle, no Python."""
    from incubator_stormcrawler_spark.operators.similarity import (
        random_projection,
    )

    out = []
    for n in sizes:
        vecs = _synth_vectors(spark, n)
        _clean(spark)
        # .count() alone would let Catalyst PRUNE the projection out of
        # the plan entirely (it needs no columns), and summing a single
        # element simplifies array(c0..c7)[i] to just that component —
        # fold the WHOLE array so all out_dim folds execute
        sec = timed(
            lambda: random_projection(vecs, out_dim=8, seed=8, unroll=True)
            .agg(
                F.sum(
                    F.aggregate(
                        "proj", F.lit(0.0), lambda a, x: a + x
                    )
                )
            )
            .collect(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def curve_pq_adc(spark, sizes):
    """PQ-ADC top-5 for 8 queries: dominated by the one-pass corpus
    assignment (O(n·m·k) folds); the LUT join is broadcast — alpha ≈ 1,
    no quadratic term in corpus size."""
    from incubator_stormcrawler_spark.operators.similarity import pq_adc_topk

    out = []
    for n in sizes:
        vecs = _synth_vectors(spark, n)
        qids = list(range(0, 8))
        _clean(spark)
        sec = timed(
            lambda: pq_adc_topk(vecs, qids, m=8, k=16, topk=5).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def synth_boiler_docs(spark, n: int, boiler_every: int = 4):
    """Corpus with BOILERPLATE: every ``boiler_every``-th doc starts with
    the same 12-token header (site chrome, licence banners) — each header
    shingle lands in n/boiler_every documents, the hot-shingle case that
    makes the full Jaccard self-join quadratic."""
    words = (
        "concat_ws(' ', transform(sequence(0, 27), j -> "
        "substr(md5(cast(id as string) || '-' || cast(j as string)), 1, 6)))"
    )
    header = "'the quick brown fox jumps over the lazy dog again and again'"
    return spark.range(n).selectExpr(
        "id as doc_id",
        f"case when mod(id, {boiler_every}) = 0 then "
        f"concat({header}, ' ', {words}) else {words} end as text",
    )


def _jacab_leg(spark, leg: str, n: int, threshold: str = "0.6"):
    """One A/B leg on the boilerplate corpus: 'prefix' / 'full' timing,
    or 'equal' (exact result-set equality of the two forms)."""
    from incubator_stormcrawler_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    docs = synth_boiler_docs(spark, n)
    _clean(spark)
    if leg == "prefix":
        return {"prefix_sec": round(timed(
            lambda: jaccard_prefix_pairs(
                docs, n=3, threshold=threshold
            ).count(),
            warmup=True,
        ), 2)}
    if leg == "full":
        return {"full_sec": round(timed(
            lambda: ngram_jaccard_pairs(
                docs, n=3, threshold=float(threshold)
            ).count(),
            warmup=True,
        ), 2)}
    a = {(r.doc1, r.doc2) for r in
         jaccard_prefix_pairs(docs, n=3, threshold=threshold).collect()}
    b = {(r.doc1, r.doc2) for r in
         ngram_jaccard_pairs(docs, n=3, threshold=float(threshold)).collect()}
    assert a == b, "prefix filter diverged from full self-join"
    return {"equal": True, "pairs": len(a)}


def jaccard_prefix_ab_main():
    """`--jaccard-ab`: the measurement that earns jaccard_prefix_pairs'
    claim — on a hot-boilerplate corpus the prefix filter must beat the
    full self-join, widening with scale; merged into SCALING.json.

    Each leg of each point runs in a FRESH subprocess JVM (the
    curve-harness lesson: cross-leg heap state — checkpoint blocks, AQE
    broadcast relations — frees only asynchronously). The FULL-self-join
    BASELINE leg additionally pins plan-time auto-broadcast ON
    (SPARK_GRAFT_AUTO_BROADCAST=10m): under the shipped measured-size
    broadcast policy the quadratic baseline cannot complete the 100k
    point in the 8 GiB local JVM at any partition count (measured: OOM
    at 32-512 initial partitions, old and new operator shape alike) —
    which is precisely the pathology the prefix filter exists to avoid.
    The PREFIX leg and the exact-equality assertion (25k, where both
    forms complete) run under the shipped policy, unmodified."""
    import json as _json
    import subprocess

    leg_req = os.environ.get("SPARK_GRAFT_JACAB_LEG")
    if leg_req:
        from incubator_stormcrawler_spark.session import get_spark

        leg, n = leg_req.split(":")
        spark = get_spark("scale-bench-jacab")
        spark.sparkContext.setLogLevel("ERROR")
        res = _jacab_leg(spark, leg, int(n))
        with open(os.environ["SPARK_GRAFT_JACAB_OUT"], "w") as fh:
            _json.dump(res, fh)
        return

    def run_leg(leg: str, n: int, extra_env=None):
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            out_path = tf.name
        env = dict(os.environ)
        env["SPARK_GRAFT_JACAB_LEG"] = f"{leg}:{n}"
        env["SPARK_GRAFT_JACAB_OUT"] = out_path
        env.update(extra_env or {})
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--jaccard-ab"],
            env=env,
        )
        try:
            with open(out_path) as fh:
                return _json.load(fh)
        except (OSError, ValueError) as ex:
            print(f"leg {leg}:{n} unreadable (rc={rc}): {ex}", flush=True)
            return {}
        finally:
            try:
                os.unlink(out_path)
            except OSError:
                pass

    baseline_env = {"SPARK_GRAFT_AUTO_BROADCAST": str(10 * 1024 * 1024)}
    eq = run_leg("equal", 25_000)
    print(f"   equality@25k: {eq}", flush=True)
    assert eq.get("equal"), "prefix/full equality leg failed"
    pts = []
    for n in (25_000, 100_000):
        p = {"rows": n}
        p.update(run_leg("prefix", n))
        p.update(run_leg("full", n, baseline_env))
        # per-point self-description (r13 advice): the two legs run under
        # DIFFERENT engine configs — quoting a point's speedup out of
        # context must carry that flag with it, not just the merged note
        p["full_leg_config"] = "auto_broadcast=10m"
        if "full_sec" in p and "prefix_sec" in p:
            p["speedup"] = round(p["full_sec"] / p["prefix_sec"], 2)
        pts.append(p)
        print(f"   {p}", flush=True)
    path = merge_scaling({"jaccard_prefix_boilerplate_ab": {
        "points": pts,
        "note": ("full-join baseline leg measured with plan-time "
                 "auto-broadcast on; see jaccard_prefix_ab_main docstring"),
    }})
    print(f"merged jaccard_prefix_boilerplate_ab into {path}")


def curve_jaccard_prefix(spark, sizes, threshold: str = "0.6"):
    """PPJoin curve — the prefix-filtered join ALONE (its full-self-join
    twin is measured separately in jaccard_prefix_boilerplate_ab and is
    quadratic by construction, so it cannot ride to these sizes). Same
    boilerplate corpus: every 4th doc shares a 12-token header, the
    hot-shingle case the prefix filter excludes structurally."""
    from incubator_stormcrawler_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    out = []
    for n in sizes:
        docs = synth_boiler_docs(spark, n)
        _clean(spark)
        sec = timed(
            lambda: jaccard_prefix_pairs(
                docs, n=3, threshold=threshold
            ).count(),
            warmup=True,
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def jaccard_prefix_curve_main():
    """`--jaccard-prefix-curve`: the r8 verdict's missing SCALING entry —
    PPJoin to >= 1.6M docs (16x the A/B ceiling, where the full join is
    already 30x slower and off the chart), merged as
    jaccard_prefix_pairs.

    Each point runs in a FRESH subprocess JVM (r13): the sequential
    one-JVM form OOM'd at the 1.6M point while the same point alone was
    green — prior points' checkpoint blocks and AQE broadcast relations
    are freed only asynchronously (py4j ref drop → ContextCleaner), so
    cross-point heap state accumulates. Same per-point methodology
    (warmup + timed run); this is the bench.py chunking lesson applied
    to the curve harness."""
    import json as _json
    import subprocess

    one = os.environ.get("SPARK_GRAFT_JACPFX_POINT")
    if one:
        from incubator_stormcrawler_spark.session import get_spark

        spark = get_spark("scale-bench-jacpfx")
        spark.sparkContext.setLogLevel("ERROR")
        pts = curve_jaccard_prefix(spark, [int(one)])
        with open(os.environ["SPARK_GRAFT_JACPFX_OUT"], "w") as fh:
            _json.dump(pts, fh)
        return

    pts = []
    for n in [100_000, 400_000, 1_600_000]:
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            out_path = tf.name
        env = dict(os.environ)
        env["SPARK_GRAFT_JACPFX_POINT"] = str(n)
        env["SPARK_GRAFT_JACPFX_OUT"] = out_path
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__),
             "--jaccard-prefix-curve"],
            env=env,
        )
        try:
            with open(out_path) as fh:
                pts.extend(_json.load(fh))
        except (OSError, ValueError) as ex:
            print(f"point {n} unreadable (rc={rc}): {ex}", flush=True)
        finally:
            try:
                os.unlink(out_path)
            except OSError:
                pass
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## jaccard_prefix_pairs: alpha={entry['alpha']}", flush=True)
    for p in pts:
        print(f"   {p}", flush=True)
    path = merge_scaling({"jaccard_prefix_pairs": entry})
    print(f"merged jaccard_prefix_pairs into {path}")


def curve_bloom_sharded(spark, sizes):
    """Sharded-Bloom probe curve at sizes where the SINGLE bitmap stops
    being shippable: m_bits ~ 10 bits/key, n_shards sized so each shard
    bitmap stays <= 16 MiB (the comfortable broadcast unit). At 256M
    keys the single bitmap is 512 MiB — past any sane per-task broadcast
    — while the shards stay constant-size.

    Times the ARRAY-broadcast sharded probe
    (bloom_unseen_broadcast_sharded, broadcast_residue=True — the 100 TB
    form) per generation (batch = seen/16, half true members, arrays
    prebuilt, untimed) plus the one-off build. The JOIN-form sharded
    probe is deliberately NOT on this curve: measuring it is what
    exposed its n_shards x k simultaneous HashedRelation builds OOMing
    an 8 GB driver at 16M keys (the finding that motivated the array
    form — BASELINE.md §Round 9)."""
    from incubator_stormcrawler_spark.operators.dedup import (
        bloom_bitmap_array_sharded,
        bloom_unseen_broadcast_sharded,
    )

    out = []
    for n in sizes:
        m_bits = 1 << max(16, (10 * n - 1).bit_length())
        n_shards = max(8, m_bits >> 27)  # shards <= 2^27 bits = 16 MiB
        seen = spark.range(n).selectExpr("md5(cast(id as string)) AS key")
        nb = n // 16
        cands = spark.range(n - nb // 2, n + nb // 2).selectExpr(
            "md5(cast(id as string)) AS key", "id AS payload"
        )
        _clean(spark)
        t0 = time.time()
        arrays = bloom_bitmap_array_sharded(
            seen, "key", n_shards, m_bits=m_bits // n_shards
        )
        build_sec = time.time() - t0
        probe = lambda: bloom_unseen_broadcast_sharded(
            seen, cands, "key", n_shards=n_shards,
            m_bits=m_bits // n_shards, bitmap_arrays=arrays,
            broadcast_residue=True,
        ).count()
        cnt = probe()  # warm + correctness
        assert cnt == nb // 2, (n, cnt, nb // 2)
        sec = timed(probe, warmup=False)
        out.append({
            "rows": n, "batch": nb, "sec": round(sec, 2),
            "rows_per_sec": int(nb / sec),
            "build_sec": round(build_sec, 2),
            "n_shards": n_shards,
            "single_bitmap_mb": round(m_bits / 8 / 2**20, 1),
            "shard_bitmap_mb": round(m_bits / n_shards / 8 / 2**20, 1),
        })
        print(f"   {out[-1]}", flush=True)
    return out


def bloom_sharded_curve_main():
    """`--bloom-sharded-curve`: the r8 verdict's other missing SCALING
    entry — the sharded Bloom to a scale where one bitmap exceeds the
    broadcast unit (256M keys -> 512 MiB single vs 32 x 16 MiB shards).
    rows_per_sec is per CANDIDATE-BATCH row (the per-generation work);
    the seen set only sizes the bitmap. maxResultSize is raised for the
    HARNESS only: the 256M-key build collects the full 512 MiB sketch to
    the driver in one toArrow pass (bounded by sketch bytes, never data
    — but past the 1 GiB default with serialization overhead)."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark(
        "scale-bench-bloomsh",
        extra_conf={"spark.driver.maxResultSize": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_bloom_sharded(spark, [16_000_000, 64_000_000, 256_000_000])
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## bloom_sharded_probe: alpha={entry['alpha']}", flush=True)
    for p in pts:
        print(f"   {p}", flush=True)
    path = merge_scaling({"bloom_sharded_probe": entry})
    print(f"merged bloom_sharded_probe into {path}")


def curve_heavy_hitters(spark, sizes, min_frac: float = 1e-4):
    """EXACT heavy hitters vs the naive groupBy(value).count() it
    replaces, on a Zipf-ish stream (head tokens t0..t999 under a
    power-law, plus a 50%-of-rows distinct long tail — the shape where
    the naive plan shuffles mostly-unique keys for nothing). Both must
    return the identical hitter set (asserted). min_count scales with n
    so the hitter count stays fixed across sizes."""
    from incubator_stormcrawler_spark.operators.corpus import heavy_hitters

    out = []
    for n in sizes:
        half = n // 2
        # head: occurrence i of n/2 maps to token floor(sqrt(i)) — token k
        # appears ~2*sqrt-density (power-law-ish, deterministic)
        head = spark.range(half).selectExpr(
            "concat('t', cast(cast(floor(sqrt(id)) as bigint) % 1000"
            " as string)) as tok"
        )
        tail = spark.range(half).selectExpr(
            "concat('rare', cast(id as string)) as tok"
        )
        occ = head.union(tail)
        min_count = max(2, int(n * min_frac))
        _clean(spark)
        t_hh = timed(
            lambda: heavy_hitters(
                occ, "tok", min_count=min_count, width=1024,
                hash_fn="xxhash64",
            ).count(),
            warmup=True,
        )
        _clean(spark)
        naive = occ.groupBy("tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).where(F.col("n") >= min_count)
        t_naive = timed(lambda: naive.count(), warmup=True)
        got = {(r.value, r.n) for r in heavy_hitters(
            occ, "tok", min_count=min_count, width=1024,
            hash_fn="xxhash64").collect()}
        exp = {(r.tok, r.n) for r in naive.collect()}
        assert got == exp, (n, len(got), len(exp))
        out.append({
            "rows": n, "sec": round(t_hh, 2),
            "rows_per_sec": int(n / t_hh),
            "naive_sec": round(t_naive, 2),
            "min_count": min_count, "n_hitters": len(got),
        })
        print(f"   {out[-1]}", flush=True)
    return out


def curve_fetch_forecast(spark, sizes, n_hosts: int = 100_000):
    """fetch_forecast over synthetic frontiers: ONE partial-aggregable
    groupBy on the politeness key + a broadcast join against a
    host-cardinality delay dim. Host count fixed at 100k (a real crawl's
    key cardinality), rows scale past it — the map-side combine should
    keep the curve ~linear in rows."""
    from incubator_stormcrawler_spark.operators.frontier import (
        fetch_forecast,
    )

    delays = spark.range(0, n_hosts, 3).selectExpr(
        "'h' || cast(id as string) as key",
        "cast(id % 30 as double) as crawl_delay_s",
    )
    out = []
    for n in sizes:
        frontier = spark.range(n).selectExpr(
            f"'h' || cast(id % {n_hosts} as string) as key",
            "timestampadd(MINUTE, cast(id % 20160 as int),"
            " timestamp '2024-01-08 00:00:00') as next_fetch_date",
        )
        _clean(spark)
        sec = timed(
            lambda: fetch_forecast(
                frontier, delays, "2024-01-15 00:00:00", horizon_s=300
            ).count(),
            warmup=True,
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
        print(f"   {out[-1]}", flush=True)
    return out


def fetch_forecast_main():
    """`--fetch-forecast`: scale curve for the r9-registered politeness
    forecast, merged as fetch_forecast."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-forecast")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_fetch_forecast(
        spark, [16_000_000, 64_000_000, 256_000_000])
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## fetch_forecast: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"fetch_forecast": entry})
    print(f"merged fetch_forecast into {path}")


def heavy_hitters_main():
    """`--heavy-hitters`: the r9 operator's scale evidence — exact heavy
    hitters via the one-sided Count-Min prefilter vs the naive full
    groupBy, merged as heavy_hitters."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-hh")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_heavy_hitters(spark, [10_000_000, 40_000_000, 160_000_000])
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## heavy_hitters: alpha={entry['alpha']}", flush=True)
    path = merge_scaling({"heavy_hitters": entry})
    print(f"merged heavy_hitters into {path}")


def r8ops_main():
    """`--r8ops`: curves for the round-8 additions (TrustRank, BFS seed
    distance, JL projection, PQ-ADC search), merged into SCALING.json."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-r8ops")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for name, fn in (
        ("trustrank",
         lambda: curve_trustrank(
             spark, [1_000_000, 4_000_000, 16_000_000, 64_000_000])),
        ("seed_distance_bfs",
         lambda: curve_seed_distance(
             spark, [1_000_000, 4_000_000, 16_000_000, 64_000_000])),
        ("random_projection",
         lambda: curve_random_projection(
             spark, [250_000, 1_000_000, 4_000_000, 16_000_000])),
        ("pq_adc_search",
         lambda: curve_pq_adc(
             spark, [100_000, 400_000, 1_600_000, 6_400_000])),
    ):
        pts = fn()
        results[name] = {"points": pts, "alpha": alpha(pts)}
        print(f"## {name}: alpha={results[name]['alpha']}", flush=True)
        for p in pts:
            print(f"   {p}", flush=True)
    path = merge_scaling(results)
    print(f"merged r8ops curves into {path}")


def curve_kcore(spark, sizes):
    """k-core peel on an Erdos-Renyi-ish random graph, mean degree ~16,
    k=8 — converges in a handful of peel rounds (each round: one
    partial-aggregable degree count + two left-semi joins on the
    shrinking survivor set). Times the FULL peel to fixpoint."""
    from incubator_stormcrawler_spark.operators.linkrank import kcore

    out = []
    for n in sizes:
        m = max(n // 8, 1000)
        edges = spark.range(n).selectExpr(
            f"cast(pmod(xxhash64(id), {m}) as bigint) as src",
            f"cast(pmod(xxhash64(id + {n}), {m}) as bigint) as dst",
        )
        _clean(spark)
        sec = timed(
            lambda: kcore(edges, k=8, max_rounds=12).count(),
            warmup=(n == sizes[0]),
        )
        out.append({"rows": n, "sec": round(sec, 2),
                    "rows_per_sec": int(n / sec)})
    return out


def kcore_main():
    """`--kcore`: measure the r8 k-core peel at 4 sizes spanning 64x and
    merge a `kcore_peel` entry into the existing SCALING.json."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-kcore")
    spark.sparkContext.setLogLevel("ERROR")
    pts = curve_kcore(spark, [1_000_000, 4_000_000, 16_000_000, 64_000_000])
    entry = {"points": pts, "alpha": alpha(pts)}
    print(f"## kcore_peel: alpha={entry['alpha']}", flush=True)
    for p in pts:
        print(f"   {p}", flush=True)
    path = merge_scaling({"kcore_peel": entry})
    print(f"merged kcore_peel into {path}")


def frontier_256m_main():
    """`--frontier-256m`: extend the frontier_topk curve one octave past
    the r7 ceiling — a single 256M-row point (256x the curve's base,
    ~2.5x the sf100-equivalent frontier) merged into the existing
    SCALING.json entry. Separate mode because the 256M build writes
    ~15 GB of parquet and shouldn't run inside the default sweep."""
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench-frontier256")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_bench_256m_")
    try:
        pts = curve_frontier_topk(spark, tmp, [256_000_000])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entry = load_scaling().get("frontier_topk", {"points": []})
    entry["points"] = [
        p for p in entry["points"] if p["rows"] != 256_000_000
    ] + pts
    entry["alpha"] = alpha(entry["points"])
    path = merge_scaling({"frontier_topk": entry})
    print(f"frontier_topk @256M: {pts[0]} -> merged into {path} "
          f"(alpha now {entry['alpha']})")


def main():
    if "--recursive-crawl" in sys.argv:
        recursive_crawl_main()
        return
    if "--sketches" in sys.argv:
        sketches_main()
        return
    if "--overlap-sketches" in sys.argv:
        overlap_sketches_main()
        return
    if "--classifier" in sys.argv:
        classifier_main()
        return
    if "--frontier-256m" in sys.argv:
        frontier_256m_main()
        return
    if "--kcore" in sys.argv:
        kcore_main()
        return
    if "--r8ops" in sys.argv:
        r8ops_main()
        return
    if "--jaccard-ab" in sys.argv:
        jaccard_prefix_ab_main()
        return
    if "--jaccard-prefix-curve" in sys.argv:
        jaccard_prefix_curve_main()
        return
    if "--bloom-sharded-curve" in sys.argv:
        bloom_sharded_curve_main()
        return
    if "--heavy-hitters" in sys.argv:
        heavy_hitters_main()
        return
    if "--fetch-forecast" in sys.argv:
        fetch_forecast_main()
        return
    if "--crawl-full-stack" in sys.argv:
        full_stack_crawl_main()
        return
    if "--corpus-cluster" in sys.argv:
        corpus_cluster_main()
        return
    if "--zorder" in sys.argv:
        zorder_main()
        return
    if "--hilbert" in sys.argv:
        hilbert_main()
        return
    if "--neardedup-incremental" in sys.argv:
        neardedup_incremental_main()
        return
    if "--resolved-map-write" in sys.argv:
        resolved_map_write_main()
        return
    if "--index-upsert" in sys.argv:
        index_upsert_main()
        return
    if "--redirect-incremental" in sys.argv:
        redirect_incremental_main()
        return
    if "--redirect" in sys.argv:
        redirect_main()
        return
    if "--wmh" in sys.argv:
        weighted_minhash_main()
        return
    quick = "--quick" in sys.argv
    deep = "--deep" in sys.argv
    d = 4 if quick else 1

    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_bench_")
    results: dict[str, object] = {}
    try:
        curves = [
            ("frontier_topk",
             lambda: curve_frontier_topk(
                 spark, tmp, [1_000_000 // d, 4_000_000 // d,
                              16_000_000 // d]
                 + ([64_000_000] if deep else []))),
            ("status_merge_full_outer",
             lambda: curve_status_merge(
                 spark, tmp, [1_000_000 // d, 4_000_000 // d,
                              16_000_000 // d]
                 + ([64_000_000] if deep else []))),
            ("merge_commit_bucket_pruned",
             lambda: curve_merge_commit(
                 spark, tmp, [1_000_000 // d, 4_000_000 // d,
                              16_000_000 // d]
                 + ([64_000_000] if deep else []))),
            ("merge_commit_one_bucket_touched",
             lambda: curve_merge_commit_one_bucket(
                 spark, tmp, [1_000_000 // d, 4_000_000 // d,
                              16_000_000 // d]
                 + ([64_000_000] if deep else []))),
            ("minhash_lsh_pairs",
             lambda: curve_minhash(
                 spark, [100_000 // d, 400_000 // d, 1_600_000 // d]
                 + ([6_400_000] if deep else []))),
            ("star_contraction",
             lambda: curve_star_contraction(
                 spark, [100_000 // d, 400_000 // d, 1_600_000 // d]
                 + ([6_400_000] if deep else []))),
            ("substring_dedup",
             lambda: curve_substring_dedup(
                 spark, [25_000 // d, 100_000 // d, 400_000 // d]
                 + ([1_600_000] if deep else []))),
            ("segment_dedup",
             lambda: curve_segment_dedup(
                 spark, [50_000 // d, 200_000 // d, 800_000 // d]
                 + ([3_200_000] if deep else []))),
            ("bm25",
             lambda: curve_bm25(
                 spark, [100_000 // d, 400_000 // d, 1_600_000 // d]
                 + ([6_400_000] if deep else []))),
            ("crawl_generation",
             lambda: curve_crawl_generation(
                 spark, [12_000 // d, 25_000 // d, 100_000 // d]
                 + ([400_000] if deep else []))),
        ]
        for name, fn in curves:
            pts = fn()
            results[name] = {"points": pts, "alpha": alpha(pts)}
            print(f"## {name}: alpha={results[name]['alpha']}", flush=True)
            for p in pts:
                print(f"   {p}", flush=True)

        results["skewed_topk_ab"] = [
            skewed_topk_ab(spark, tmp, 16_000_000 // d),
            skewed_topk_ab(spark, tmp, 64_000_000 // d),
        ]
        print(f"## skewed_topk_ab: {results['skewed_topk_ab']}", flush=True)

        results["substring_dedup_skew_ab"] = substring_dedup_skew_ab(
            spark, 200_000 // d
        )
        print(
            f"## substring_dedup_skew_ab: "
            f"{results['substring_dedup_skew_ab']}",
            flush=True,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    results["quick"] = quick
    results["deep"] = deep
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SCALING.json"), "w") as f:
        json.dump(results, f, indent=2)

    # markdown table for BASELINE.md
    print("\n| operator | sizes (rows) | secs | rows/s @ max | alpha |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        if not isinstance(r, dict) or "points" not in r:
            continue
        pts = r["points"]
        sizes = " / ".join(f"{p['rows']:,}" for p in pts)
        secs = " / ".join(str(p["sec"]) for p in pts)
        print(f"| {name} | {sizes} | {secs} | "
              f"{pts[-1]['rows_per_sec']:,} | {r['alpha']} |")


if __name__ == "__main__":
    main()
