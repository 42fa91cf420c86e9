"""Structured Streaming tests: watermarked window agg, stateful sessions,
and the continuous frontier merge (foreachBatch)."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest

from incubator_stormcrawler_spark.streaming.frontier_table import FrontierTable
from incubator_stormcrawler_spark.streaming.streams import (
    read_event_stream,
    stream_status_updates_into_frontier,
    windowed_event_counts,
)


def write_events(path: str, name: str, events: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.replace(tmp, os.path.join(path, name))


def _wait(cond, timeout=60):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if cond():
            return True
        time.sleep(0.5)
    return False


def test_windowed_counts_stream(spark, tmp_path):
    src = str(tmp_path / "events")
    write_events(
        src,
        "batch0.json",
        [
            {"event_id": 1, "ts": "2024-01-15T10:05:00", "user_id": 1,
             "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-15T10:45:00", "user_id": 2,
             "event_type": "click", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-15T11:10:00", "user_id": 1,
             "event_type": "view", "value": 3.0},
        ],
    )
    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .start()
    )
    try:
        ok = _wait(
            lambda: spark.sql("select * from win_counts").count() >= 2
        )
        assert ok, "stream produced no rows"
        rows = {
            (str(r.window_start), r.event_type): (r.num_events, r.total_value)
            for r in spark.sql("select * from win_counts").collect()
        }
        assert rows[("2024-01-15 10:00:00", "click")] == (2, 3.0)
        assert rows[("2024-01-15 11:00:00", "view")] == (1, 3.0)
    finally:
        q.stop()


def test_streaming_frontier_merge(spark, tmp_path):
    """Status updates stream → foreachBatch MERGE → frontier table evolves
    with the same semantics as the batch loop."""
    src = str(tmp_path / "updates")
    frontier_path = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "ckpt")

    write_events(
        src,
        "b0.json",
        [
            {"url": "https://a.com/1", "status": "DISCOVERED"},
            {"url": "https://a.com/2", "status": "DISCOVERED"},
        ],
    )
    updates = (
        spark.readStream.schema("url string, status string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    table = FrontierTable(frontier_path)
    q = stream_status_updates_into_frontier(updates, frontier_path, ckpt).start()
    try:
        assert _wait(lambda: table.exists() and table.read(spark).count() == 2)
        # second micro-batch: one fetch success, one error
        write_events(
            src,
            "b1.json",
            [
                {"url": "https://a.com/1", "status": "FETCHED"},
                {"url": "https://a.com/2", "status": "FETCH_ERROR"},
                {"url": "https://a.com/3", "status": "DISCOVERED"},
            ],
        )
        def done():
            got = {r.url: r for r in table.read(spark).collect()}
            return (
                len(got) == 3
                and got.get("https://a.com/1") is not None
                and got["https://a.com/1"].status == "FETCHED"
            )
        assert _wait(done), table.read(spark).collect()
        got = {r.url: r for r in table.read(spark).collect()}
        assert got["https://a.com/2"].status == "FETCH_ERROR"
        assert got["https://a.com/2"].error_count == 1
        assert got["https://a.com/3"].status == "DISCOVERED"
        # the sink commits through merge_commit into the bucketed layout
        for v in table.versions():
            snap = table.snapshot(v)
            files = glob.glob(f"{snap}/**/*.parquet", recursive=True)
            assert files and all(
                os.path.basename(os.path.dirname(f)).startswith("bucket=")
                and os.path.dirname(os.path.dirname(f)) == snap
                for f in files
            ), files
    finally:
        q.stop()


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState session operator: sessions flush on state
    timeout (the TTL'd-state pattern of the reference's purgatory caches)."""
    from incubator_stormcrawler_spark.streaming.streams import (
        stateful_sessionize,
    )

    src = str(tmp_path / "ev")
    write_events(
        src,
        "b0.json",
        [
            {"event_id": i, "ts": f"2024-01-15T10:0{i}:00", "user_id": i % 2,
             "event_type": "c", "value": 1.0}
            for i in range(5)
        ],
    )
    stream = read_event_stream(spark, src)
    sess = stateful_sessionize(stream, gap_minutes=0.001 / 60)  # ~1ms gap
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql("select * from sessions_t").count() >= 2, timeout=90
        ), "no sessions flushed"
        got = {r.user_id: r for r in spark.sql("select * from sessions_t").collect()}
        assert got[0].n_events == 3 and got[0].total_value == 3.0
        assert got[1].n_events == 2
        assert str(got[0].session_start) == "2024-01-15 10:00:00"
        assert str(got[0].session_end) == "2024-01-15 10:04:00"
    finally:
        q.stop()


def test_bucket_partitioned_frontier_prunes(spark, tmp_path):
    """Bucket-partitioned snapshots turn the shard predicate into
    partition pruning (PartitionFilters, not row filters)."""
    from incubator_stormcrawler_spark.operators.frontier import frontier_topk
    from incubator_stormcrawler_spark.operators.synthetic import (
        synthetic_frontier,
    )

    table = FrontierTable(str(tmp_path / "f"), partition_by="bucket")
    table.commit(synthetic_frontier(spark, "/root/testdata/sf0.001"))

    shard = frontier_topk(
        table.read(spark), "2024-01-15 00:00:00",
        max_per_bucket=3, max_results=50, bucket=4,
    )
    plan = shard._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan or \
           "PartitionFilters: [" in plan and "bucket" in plan.split(
               "PartitionFilters:")[1][:120]
    rows = shard.collect()
    assert rows and all(r.bucket == 4 for r in rows)


def test_merge_commit_rewrites_only_touched_buckets(spark, tmp_path):
    """The Delta-MERGE-shaped commit: update batch touches a subset of
    buckets → only those partitions are re-merged and rewritten; untouched
    partitions carry forward as hard links (same inode = zero bytes
    rewritten), the pruned scan is a PartitionFilter, and the merged table
    equals a full-table merge."""
    import glob

    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.operators.status_merge import (
        merge_status_updates,
    )
    from incubator_stormcrawler_spark.operators.synthetic import (
        synthetic_frontier,
    )

    NOW = "2024-01-15 00:00:00"
    table = FrontierTable(str(tmp_path / "f"), partition_by="bucket")
    frontier = synthetic_frontier(spark, "/root/testdata/sf0.001")
    table.commit(frontier)
    v1 = table.current_version()

    # updates confined to two hosts → ≤ 2 buckets touched
    updates = spark.createDataFrame(
        [("https://host1.example/p101", "FETCHED"),
         ("https://host1.example/brandnew", "DISCOVERED"),
         ("https://host2.example/p2", "FETCH_ERROR")],
        "url string, status string",
    )
    v2 = table.merge_commit(spark, updates, NOW)
    assert v2 == v1 + 1

    snap1 = os.path.join(table.path, f"v{v1:06d}")
    snap2 = os.path.join(table.path, f"v{v2:06d}")
    touched = {
        r.bucket
        for r in frontier.where(
            F.col("key").isin("host1.example", "host2.example")
        ).select("bucket").distinct().collect()
    }
    all_buckets = {
        int(d.split("=")[1]) for d in os.listdir(snap2)
        if d.startswith("bucket=")
    }
    assert touched < all_buckets  # strictly a subset was touched

    for b in all_buckets - touched:
        old_files = sorted(glob.glob(f"{snap1}/bucket={b}/*.parquet"))
        new_files = sorted(glob.glob(f"{snap2}/bucket={b}/*.parquet"))
        assert old_files and len(old_files) == len(new_files)
        for o, n in zip(old_files, new_files):
            assert os.path.samefile(o, n)  # hard link, not a rewrite

    # merged table == full-table merge (order-insensitive)
    got = sorted(
        map(tuple, table.read(spark).collect()), key=lambda t: t[0]
    )
    want = sorted(
        map(tuple, merge_status_updates(frontier, updates, NOW).collect()),
        key=lambda t: t[0],
    )
    assert got == want

    # and the pruned read is partition-filtered, not row-filtered
    pruned = table.read(spark).where(F.col("bucket").isin(sorted(touched)))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan.split(
        "PartitionFilters:")[1][:160]


def test_stateful_url_dedup(spark, tmp_path):
    """Streaming dedup cache: first sighting of a URL emits; repeats within
    the TTL are suppressed (the Caffeine-cache semantics)."""
    from incubator_stormcrawler_spark.streaming.streams import stateful_url_dedup

    src = str(tmp_path / "disc")
    write_events(
        src,
        "b0.json",
        [
            {"url": "https://a.com/1", "status": "DISCOVERED",
             "ts": "2024-01-15T10:00:00"},
            {"url": "https://a.com/1", "status": "DISCOVERED",
             "ts": "2024-01-15T10:00:01"},
            {"url": "https://a.com/2", "status": "DISCOVERED",
             "ts": "2024-01-15T10:00:02"},
        ],
    )
    updates = (
        spark.readStream.schema("url string, status string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stateful_url_dedup(updates, ttl_minutes=60)
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .start()
    )
    try:
        assert _wait(lambda: spark.sql("select * from dedup_t").count() >= 2)
        got = {r.url for r in spark.sql("select * from dedup_t").collect()}
        assert got == {"https://a.com/1", "https://a.com/2"}
        # a repeat in a later batch is still suppressed (state alive)
        write_events(
            src, "b1.json",
            [{"url": "https://a.com/1", "status": "DISCOVERED",
              "ts": "2024-01-15T10:05:00"},
             {"url": "https://a.com/3", "status": "DISCOVERED",
              "ts": "2024-01-15T10:05:01"}],
        )
        assert _wait(
            lambda: "https://a.com/3" in
            {r.url for r in spark.sql("select * from dedup_t").collect()}
        )
        urls = [r.url for r in spark.sql("select * from dedup_t").collect()]
        assert urls.count("https://a.com/1") == 1  # never re-emitted
    finally:
        q.stop()


def test_frontier_table_time_travel(spark, tmp_path):
    """Snapshot versions are immutable and readable by number (the Delta
    `VERSION AS OF` contract): commits bump the version, historic reads
    see the old rows, vacuumed versions raise."""
    t = FrontierTable(str(tmp_path / "tt"))
    for n in (1, 2, 3):
        t.commit(spark.createDataFrame(
            [(f"https://h/{i}", "DISCOVERED", None, 0, "h", 0)
             for i in range(n)],
            "url string, status string, next_fetch_date timestamp, "
            "error_count int, key string, bucket int",
        ))
    assert t.current_version() == 3
    assert t.versions() == [1, 2, 3]
    assert t.read(spark).count() == 3
    assert t.read(spark, version=2).count() == 2
    assert t.read(spark, version=1).count() == 1
    # a 4th commit vacuums v1 (keep=3)
    t.commit(t.read(spark))
    assert t.versions() == [2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not retained"):
        t.read(spark, version=1)


def test_merge_commit_crash_restart_idempotent(spark, tmp_path, monkeypatch):
    """The exactly-once claim of SURVEY §3.1 (reference
    AbstractStatusUpdaterBolt.java:150-161), crash-tested at BOTH crash
    points of the commit protocol:

    1. crash BETWEEN staging write and pointer swap — the retry must
       replace the partial staging dir and produce the single-run table;
    2. crash AFTER the swap, before the caller sees the ack — the retry
       with the same batch_id must be a NO-OP (Delta's txnAppId/
       txnVersion idiom), not a double-apply (error_count would
       escalate twice on FETCH_ERROR updates if it re-merged).
    """
    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.operators.synthetic import (
        synthetic_frontier,
    )
    from incubator_stormcrawler_spark.streaming import frontier_table as ftm

    NOW = "2024-01-15 00:00:00"
    frontier = synthetic_frontier(spark, "/root/testdata/sf0.001")
    updates = spark.createDataFrame(
        [("https://host1.example/p101", "FETCHED"),
         ("https://host1.example/brandnew", "DISCOVERED"),
         ("https://host2.example/p2", "FETCH_ERROR")],
        "url string, status string",
    )

    def snapshot(table):
        return sorted(
            (r.url, r.status, str(r.next_fetch_date), r.error_count,
             r.key, r.bucket)
            for r in table.read(spark).collect()
        )

    # reference: the uncrashed single run
    ref = FrontierTable(str(tmp_path / "ref"), partition_by="bucket")
    ref.commit(frontier)
    ref.merge_commit(spark, updates, NOW, batch_id="gen-1")
    expected = snapshot(ref)

    # crash point 1: staging dir written, pointer swap dies
    t = FrontierTable(str(tmp_path / "crash"), partition_by="bucket")
    t.commit(frontier)
    v1 = t.current_version()
    real_replace = os.replace

    def dying_replace(src, dst):
        if dst == t._pointer:
            raise OSError("simulated crash before pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(ftm.os, "replace", dying_replace)
    with pytest.raises(OSError, match="simulated crash"):
        t.merge_commit(spark, updates, NOW, batch_id="gen-1")
    monkeypatch.setattr(ftm.os, "replace", real_replace)

    # the partial staging dir exists but the table is untouched
    assert os.path.isdir(os.path.join(t.path, f"v{v1 + 1:06d}"))
    assert t.current_version() == v1

    v2 = t.merge_commit(spark, updates, NOW, batch_id="gen-1")  # retry
    assert v2 == v1 + 1
    assert snapshot(t) == expected

    # crash point 2: commit landed, ack lost — same batch_id retries
    # must not double-apply (version unchanged, bytes unchanged)
    v3 = t.merge_commit(spark, updates, NOW, batch_id="gen-1")
    assert v3 == v2
    assert snapshot(t) == expected
    # and a NEW batch on the same table still goes through
    more = spark.createDataFrame(
        [("https://host2.example/p2", "FETCH_ERROR")],
        "url string, status string",
    )
    v4 = t.merge_commit(spark, more, NOW, batch_id="gen-2")
    assert v4 == v2 + 1
    errs = {
        r.url: r.error_count
        for r in t.read(spark).where(
            F.col("url") == "https://host2.example/p2"
        ).collect()
    }
    assert errs["https://host2.example/p2"] == 2  # once per distinct batch


def test_streaming_epoch_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once on failure: a crash between the
    table commit and Spark's checkpoint write REPLAYS the epoch with the
    same batch_id. FETCH_ERROR escalation is not naturally idempotent,
    so the merger must detect the recorded epoch and no-op — error_count
    stays 1, version doesn't advance. A NEW epoch still applies."""
    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.functions.urls import (
        bucket_expr,
        host_key_expr,
    )
    from incubator_stormcrawler_spark.streaming.streams import (
        make_streaming_merger,
    )

    table = FrontierTable(str(tmp_path / "f"), partition_by="bucket")
    table.commit(spark.createDataFrame(
        [("https://a.com/1", "DISCOVERED", None, 0, "a.com")],
        "url string, status string, next_fetch_date timestamp, "
        "error_count int, key string",
    ).withColumn("bucket", bucket_expr(host_key_expr(F.col("url")))))
    merge_batch = make_streaming_merger(table)
    errs = spark.createDataFrame(
        [("https://a.com/1", "FETCH_ERROR")], "url string, status string"
    )

    merge_batch(errs, 7)
    v = table.current_version()
    row = table.read(spark).collect()[0]
    assert (row.status, row.error_count) == ("FETCH_ERROR", 1)

    merge_batch(errs, 7)  # replayed epoch (crash before checkpoint write)
    assert table.current_version() == v
    row = table.read(spark).collect()[0]
    assert (row.status, row.error_count) == ("FETCH_ERROR", 1)

    merge_batch(errs, 8)  # genuinely new epoch escalates once more
    row = table.read(spark).collect()[0]
    assert (row.status, row.error_count) == ("FETCH_ERROR", 2)


def test_generation_batch_ids_survive_restart_and_seed_interleave(
    spark, tmp_path
):
    """Two r7 review findings pinned. (1) Restart uniqueness: a NEW
    CrawlLoop over an existing table resumes generation numbering from
    the table's last committed mark — without that, the fresh process
    would reuse "gen-1" and the guard would silently DROP its first
    merge. (2) Guard persistence: an UNTAGGED commit between a tagged
    commit and its replay (e.g. seed injection) must carry the mark
    forward, so the replay still no-ops."""
    from incubator_stormcrawler_spark.protocol.fetch import MemoryProtocol
    from incubator_stormcrawler_spark.streaming.crawl_loop import CrawlLoop

    site = {f"https://h{i}.example/p": f"<html><body>x{i}</body></html>"
            for i in range(3)}
    path = str(tmp_path / "f")

    loop1 = CrawlLoop(spark, path, lambda: MemoryProtocol(site))
    loop1.inject_seeds(
        spark.createDataFrame([(u,) for u in site], ["url"])
    )
    loop1.run_generation()
    assert loop1.table.last_batch_id() == "gen-1"

    # (1) a restarted process resumes numbering — its next generation is
    # 2, and its merge APPLIES (all pages refetch-scheduled in the
    # future, so the batch is empty — but the generation mark advances)
    loop2 = CrawlLoop(spark, path, lambda: MemoryProtocol(site))
    assert loop2.generation == 1
    loop2.run_generation()
    assert loop2.table.last_batch_id() == "gen-2"

    # (2) untagged commits preserve the mark: seed injection between a
    # commit and a replay must not erase the guard
    loop2.inject_seeds(
        spark.createDataFrame([("https://new.example/p",)], ["url"])
    )
    assert loop2.table.last_batch_id() == "gen-2"
    before = sorted(
        (r.url, r.status) for r in loop2.read_frontier().collect()
    )
    # simulated crash-replay of generation 2 (same batch id): no-op
    loop2.generation = 1
    loop2.run_generation()
    assert sorted(
        (r.url, r.status) for r in loop2.read_frontier().collect()
    ) == before


def test_compact_merges_small_files_and_preserves_everything(spark, tmp_path):
    """OPTIMIZE for the bucket-partitioned table: merge_commit fragments
    touched buckets (one file per shuffle task holding the bucket's rows),
    compact() rewrites ONLY fragmented buckets down to one file each,
    hard-links compact buckets unchanged, keeps the content bit-identical,
    carries the batch-id mark forward (the exactly-once retry guard
    survives), and no-ops when nothing is fragmented."""
    import glob

    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.operators.synthetic import (
        synthetic_frontier,
    )

    NOW = "2024-01-15 00:00:00"
    table = FrontierTable(str(tmp_path / "f"), partition_by="bucket")
    frontier = synthetic_frontier(spark, "/root/testdata/sf0.001")
    # 16-task commit: every task holds rows of every bucket, so each
    # bucket lands as ~16 small files — the accreted-table state a long
    # crawl reaches (at THIS toy scale AQE coalesces the merge shuffles
    # to one file per bucket, so fragmentation is staged directly)
    table.commit(frontier.repartition(16))
    # updates confined to one host: its bucket gets the AQE-coalesced
    # rewrite, every other bucket keeps its 16 hard-linked fragments
    updates = spark.createDataFrame(
        [("https://host1.example/p101", "FETCHED")],
        "url string, status string",
    )
    table.merge_commit(spark, updates, NOW, batch_id="gen-2")

    v = table.current_version()
    snap = os.path.join(table.path, f"v{v:06d}")
    files_before = {
        d: len(glob.glob(f"{snap}/{d}/*.parquet"))
        for d in os.listdir(snap) if d.startswith("bucket=")
    }
    fragmented = {d for d, n in files_before.items() if n > 1}
    assert fragmented, "fixture failed to fragment any bucket"
    before_rows = {
        tuple(r) for r in table.read(spark).collect()
    }

    v2 = table.compact(spark, max_files_per_bucket=1)
    assert v2 == v + 1
    snap2 = os.path.join(table.path, f"v{v2:06d}")
    for d in os.listdir(snap2):
        if not d.startswith("bucket="):
            continue
        n = len(glob.glob(f"{snap2}/{d}/*.parquet"))
        assert n == 1, (d, n)
        if d not in fragmented:
            # untouched compact bucket: hard-linked, not rewritten
            o = glob.glob(f"{snap}/{d}/*.parquet")
            nn = glob.glob(f"{snap2}/{d}/*.parquet")
            assert len(o) == 1 and os.path.samefile(o[0], nn[0])
    after_rows = {tuple(r) for r in table.read(spark).collect()}
    assert after_rows == before_rows
    assert table.last_batch_id() == "gen-2"  # retry guard intact

    # already-compact table: no empty commit
    assert table.compact(spark, max_files_per_bucket=1) == v2


def _bucket_inodes(snap_path: str) -> dict[int, set]:
    out: dict[int, set] = {}
    for name in os.listdir(snap_path):
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        d = os.path.join(snap_path, name)
        out[b] = {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    return out


def test_resolved_map_store_bucket_pruned_write(spark, tmp_path):
    """r12 verdict item 2: a delta-sized advance rewrites ONLY the
    buckets containing changed urls; every untouched bucket's parquet
    files carry into the new snapshot as hard links (same inodes), the
    read side sees the complete new map, and old versions vacuum."""
    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.streaming.frontier_table import (
        RESOLVED_MAP_BUCKETS as NB,
        ResolvedMapStore,
    )

    store = ResolvedMapStore(str(tmp_path / "map"))
    base = spark.range(2000).selectExpr(
        "concat('https://h', id, '.example/') as url",
        "concat('https://t', id, '.example/') as target",
        "cast(1 as bigint) as hops",
        "cast(1 as int) as resolved",
    )
    v1 = store.write(base)
    assert v1 == 1
    before = _bucket_inodes(store.snapshot())
    assert len(before) == NB  # 2000 urls populate every bucket

    changed = spark.createDataFrame(
        [("https://h7.example/",), ("https://new.example/",)], ["url"]
    )
    new_map = base.withColumn(
        "target",
        F.when(
            F.col("url") == "https://h7.example/",
            F.lit("https://elsewhere.example/"),
        ).otherwise(F.col("target")),
    ).unionByName(
        spark.createDataFrame(
            [("https://new.example/", "https://t.example/", 2, 1)],
            store.SCHEMA,
        )
    )
    v2 = store.write(new_map, changed=changed)
    assert v2 == 2
    after = _bucket_inodes(store.snapshot())
    touched = {
        r.b
        for r in changed.select(
            F.pmod(F.xxhash64("url"), F.lit(NB)).cast("int").alias("b")
        ).collect()
    }
    assert touched and len(touched) < NB  # the prune is non-trivial
    for b in before:
        if b in touched:
            assert after[b] != before[b]
        else:
            assert after[b] == before[b]  # byte-identical carry-forward
    # the read side sees the complete merged map
    got = {r.url: r.target for r in store.read(spark).collect()}
    assert len(got) == 2001
    assert got["https://h7.example/"] == "https://elsewhere.example/"
    assert got["https://new.example/"] == "https://t.example/"
    assert got["https://h3.example/"] == "https://t3.example/"
    # superseded versions vacuumed (keep=1)
    assert store.versions() == [2]


def test_resolved_map_store_crash_retry_safe(spark, tmp_path):
    """The r12 ADVICE medium item: a crash mid-write leaves an
    UNPUBLISHED partial snapshot (the pointer never moved) that readers
    ignore and the retry reclaims — and because versions are monotonic
    (not generation-derived), the retry never overwrites the snapshot
    its own plan reads the prior map from. A retry whose delta was
    already folded commits an all-linked snapshot: zero parquet bytes
    written."""
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        ResolvedMapStore,
    )

    store = ResolvedMapStore(str(tmp_path / "map"))
    base = spark.range(100).selectExpr(
        "concat('u', id) as url", "concat('t', id) as target",
        "cast(1 as bigint) as hops", "cast(1 as int) as resolved",
    )
    store.write(base)
    # simulate a crashed attempt: partial v2, pointer never flipped
    crashed = store.snapshot(2)
    os.makedirs(crashed)
    with open(os.path.join(crashed, "junk.parquet"), "w") as f:
        f.write("torn")
    assert store.versions() == [1]  # reader ignores it
    assert store.read(spark).count() == 100
    # the retry reclaims slot 2 and commits
    empty_delta = spark.createDataFrame([], "url string")
    v1_inodes = _bucket_inodes(store.snapshot())
    v2 = store.write(base, changed=empty_delta)
    assert v2 == 2
    assert not os.path.exists(os.path.join(crashed, "junk.parquet"))
    # already-folded retry: every bucket carried forward by identity
    assert _bucket_inodes(store.snapshot()) == v1_inodes
    assert store.read(spark).count() == 100


@pytest.mark.parametrize("mode", ["replace", "carry_forward", "append"])
def test_versioned_table_crash_points(spark, tmp_path, monkeypatch, mode):
    """The one commit step's crash contract, in each of its modes:

    1. ``os.replace`` of the pointer fails — the table still reads at the
       old version, and the retry gives the single-run result;
    2. the flip landed but the ack was lost — a retry tagged with the
       same batch id is a no-op.

    Carry-forward and append also keep every partition they do not
    rewrite byte-identical (hard links to the previous snapshot). Append
    runs on a :class:`SegmentLog`, whose segments 0-2 the base commit
    writes, so the append is segment 3."""
    from incubator_stormcrawler_spark.streaming import frontier_table as ftm

    ddl = "k int, v string, " + ("seg" if mode == "append" else "p") + " int"
    base = spark.createDataFrame(
        [(i, "old", i % 3) for i in range(9)], ddl
    )
    step = {  # (partition_by, rows committed, rewrites)
        "replace": (None, [(1, "new", 0), (2, "new", 5)], None),
        "carry_forward": ("p", [(1, "new", 1), (4, "new", 1)], [1]),
        "append": ("seg", [(100, "new", 3)], None),
    }[mode]
    partition_by, rows, rewrites = step

    def table(name):
        if mode == "append":
            t = ftm.SegmentLog(str(tmp_path / name), "k int, v string")
        else:
            t = ftm.VersionedTable(str(tmp_path / name), partition_by)
        t.commit(base, batch_id="b0")
        return t

    def commit(t):
        df = spark.createDataFrame(rows, ddl)
        if mode == "append":
            return t.append(df.drop("seg"), batch_id="b1")
        return t.commit(df, rewrites, batch_id="b1")

    def content(t):
        return sorted(
            tuple(r)
            for r in ftm.VersionedTable.read(t, spark, schema=ddl).collect()
        )

    def inodes(t, part):
        d = os.path.join(t.snapshot(), f"{partition_by}={part}")
        return {os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)
                if f.endswith(".parquet")}

    ref = table("ref")
    commit(ref)
    expected = content(ref)
    assert expected != content(table("base"))

    t = table("crash")
    before = content(t)
    carried = [0, 2] if partition_by else []
    carried_inodes = {p: inodes(t, p) for p in carried}
    real_replace = os.replace

    def dying_replace(src, dst):
        if dst == t._pointer:
            raise OSError("simulated crash before pointer flip")
        return real_replace(src, dst)

    monkeypatch.setattr(ftm.os, "replace", dying_replace)
    with pytest.raises(OSError, match="simulated crash"):
        commit(t)
    monkeypatch.setattr(ftm.os, "replace", real_replace)
    assert os.path.isdir(t.snapshot(2))  # the unpublished snapshot
    assert t.current_version() == 1 and t.versions() == [1]
    assert t.last_batch_id() == "b0"
    assert content(t) == before

    assert commit(t) == 2
    assert content(t) == expected
    assert t.last_batch_id() == "b1"
    for p in carried:
        assert inodes(t, p) == carried_inodes[p]

    # the ack was lost: the tagged retry writes nothing
    assert commit(t) == 2
    assert t.versions() == [1, 2]
    assert not os.path.exists(t.snapshot(3))
    assert content(t) == expected
