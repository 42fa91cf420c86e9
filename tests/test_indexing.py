"""Index sink + content cache tests (SURVEY.md §2.9)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from incubator_stormcrawler_spark.operators.indexing import ContentCache, IndexTable


def docs_df(spark, rows):
    return spark.createDataFrame(
        [Row(url=u, title=t, text=x) for (u, t, x) in rows]
    )


def test_index_upsert_and_delete(spark, tmp_path):
    idx = IndexTable(str(tmp_path / "index"))
    idx.upsert(docs_df(spark, [
        ("https://a.com/1", "One", "body one"),
        ("https://a.com/2", "Two", "body two"),
    ]))
    assert idx.read(spark).count() == 2

    # upsert newer version of doc 1 + a new doc
    idx.upsert(docs_df(spark, [
        ("https://a.com/1", "One v2", "body one v2"),
        ("https://a.com/3", "Three", "body three"),
    ]))
    got = {r.url: r.title for r in idx.read(spark).collect()}
    assert got == {
        "https://a.com/1": "One v2",
        "https://a.com/2": "Two",
        "https://a.com/3": "Three",
    }

    # deletion stream drops ERROR'd docs
    idx.delete(spark.createDataFrame([("https://a.com/2",)], ["url"]))
    assert set(r.url for r in idx.read(spark).collect()) == {
        "https://a.com/1", "https://a.com/3",
    }


def test_content_cache_split(spark, tmp_path):
    cache = ContentCache(str(tmp_path / "cache"))
    pages = spark.createDataFrame(
        [Row(url="https://a.com/1", content=bytearray(b"ONE")),
         Row(url="https://a.com/2", content=bytearray(b"TWO"))]
    )
    cache.store(pages)

    batch = spark.createDataFrame(
        [Row(url="https://a.com/1", key="a.com"),
         Row(url="https://a.com/9", key="a.com")]
    )
    hits, misses = cache.split_cached(batch)
    h = hits.collect()
    assert len(h) == 1 and h[0].url == "https://a.com/1"
    assert bytes(h[0].content) == b"ONE"
    m = misses.collect()
    assert len(m) == 1 and m[0].url == "https://a.com/9"


def test_bulk_payload_builder():
    from incubator_stormcrawler_spark.operators.search_sink import (
        build_bulk_payload,
        doc_id_for,
    )
    import json as _json

    docs = [
        {"url": "https://a.com/1", "title": "One", "key": "a.com"},
        {"url": "https://a.com/2", "title": "Two", "key": "a.com"},
    ]
    body = build_bulk_payload(docs, "docs", create_only=True,
                              routing_field="key")
    lines = body.strip().split("\n")
    assert len(lines) == 4
    action = _json.loads(lines[0])
    assert "create" in action
    assert action["create"]["_id"] == doc_id_for("https://a.com/1")
    assert action["create"]["routing"] == "a.com"
    assert _json.loads(lines[1])["title"] == "One"
    # default verb is index
    assert "index" in _json.loads(
        build_bulk_payload(docs, "docs").split("\n")[0]
    )


def test_bulk_batching_bounds():
    from incubator_stormcrawler_spark.operators.search_sink import (
        batch_documents,
    )

    rows = [{"url": f"https://a.com/{i}", "text": "x" * 100} for i in range(25)]
    batches = list(batch_documents(rows, max_docs=10))
    assert [len(b) for b in batches] == [10, 10, 5]
    # size-bounded: tiny byte cap forces one doc per batch
    batches = list(batch_documents(rows[:5], max_docs=100, max_bytes=120))
    assert [len(b) for b in batches] == [1, 1, 1, 1, 1]


def test_playwright_protocol_gated():
    from incubator_stormcrawler_spark.protocol.browser import PlaywrightProtocol

    with pytest.raises(ImportError, match="playwright"):
        PlaywrightProtocol()


def test_write_opensearch_bulk_http(spark, tmp_path):
    """Drive the bulk sink against a live local HTTP stub accepting
    /_bulk — the transport layer end-to-end, not just the payload."""
    import http.server
    import json as _json
    import threading
    from pyspark.sql import Row
    from incubator_stormcrawler_spark.operators.search_sink import (
        write_opensearch,
    )

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, body.decode()))
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(b'{"errors": false, "items": []}')

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        docs = spark.createDataFrame(
            [Row(url=f"https://a.com/{i}", title=f"T{i}", key="a.com")
             for i in range(7)]
        ).coalesce(2)
        write_opensearch(docs, f"http://127.0.0.1:{port}", "docs",
                         routing_field="key", max_docs_per_batch=3)
    finally:
        srv.shutdown()

    assert all(path == "/_bulk" for path, _ in received)
    all_lines = [l for _, b in received for l in b.strip().split("\n")]
    actions = [_json.loads(l) for l in all_lines[::2]]
    sources = [_json.loads(l) for l in all_lines[1::2]]
    assert len(actions) == 7
    assert {s["title"] for s in sources} == {f"T{i}" for i in range(7)}
    assert all(a["index"]["routing"] == "a.com" for a in actions)
    # batching respected: no request carried more than 3 docs
    for _, b in received:
        assert len(b.strip().split("\n")) <= 6


# -- CloudSearch sink (external/aws/.../CloudSearchIndexerBolt.java:69) -----

def test_cloudsearch_doc_id_and_field_cleaning():
    from incubator_stormcrawler_spark.operators.cloudsearch import (
        cs_clean_field_name,
        cs_doc_id,
    )
    import hashlib

    assert cs_doc_id("https://a.example/") == hashlib.sha512(
        b"https://a.example/").hexdigest()
    assert len(cs_doc_id("x")) == 128
    assert cs_clean_field_name("Content-Type") == "content_type"
    assert cs_clean_field_name("parse.title") == "parse_title"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cs_clean_field_name("ab")  # < 3 chars


def test_cloudsearch_add_doc_field_rules():
    from incubator_stormcrawler_spark.operators.cloudsearch import (
        build_add_doc,
    )

    field_types = {
        "keywords": "text-array",
        "title": "text",
        "published": "date",
        "url": "text",
        "content": "text",
    }
    doc = build_add_doc(
        "https://a.example/page",
        {
            "keywords": ["a", "b", "c"],          # array type keeps all
            "title": ["first", "second"],          # scalar keeps first
            "published": ["2024-01-15T00:00:00.000Z", "not-a-date"],
            "Unknown-Field": ["dropped"],          # not in domain schema
        },
        "body text with bad\x00codepoint",
        field_types,
    )
    assert doc["type"] == "add"
    assert doc["fields"]["keywords"] == ["a", "b", "c"]
    assert doc["fields"]["title"] == "first"
    assert doc["fields"]["published"] == "2024-01-15T00:00:00.000Z"
    assert "unknown_field" not in doc["fields"]
    assert doc["fields"]["url"] == "https://a.example/page"
    assert doc["fields"]["content"] == "body text with badcodepoint"


def test_cloudsearch_invalid_dates_dropped():
    from incubator_stormcrawler_spark.operators.cloudsearch import (
        build_add_doc,
    )

    doc = build_add_doc(
        "https://a.example/", {"published": ["2024/01/15"]},
        None, {"published": "date"}, url_field="", text_field="",
    )
    assert "published" not in doc["fields"]


def test_cloudsearch_batching_limits():
    from incubator_stormcrawler_spark.operators.cloudsearch import (
        batch_sdf_documents,
        build_add_doc,
        build_delete_doc,
    )
    import json

    ops = [
        build_add_doc(f"https://a.example/p{i}", {}, "x" * 100,
                      {"content": "text"})
        for i in range(10)
    ] + [build_delete_doc("https://a.example/gone")]
    # small byte cap forces multiple batches; every batch is valid JSON
    bodies = list(batch_sdf_documents(ops, max_batch_bytes=700))
    assert len(bodies) > 1
    parsed = [d for b in bodies for d in json.loads(b)]
    assert len(parsed) == 11
    assert all(len(b.encode()) < 700 for b in bodies)
    assert parsed[-1]["type"] == "delete"
    # doc-count cap
    assert len(list(batch_sdf_documents(ops, max_docs=4))) == 3
    # oversized single doc dropped
    big = build_add_doc("https://a.example/big", {}, "y" * 2000,
                        {"content": "text"})
    assert list(batch_sdf_documents([big], max_doc_bytes=500)) == []


def _drive(idx, spark):
    """The op sequence of the snapshot-equivalence check:
    upserts (including an overwrite), a delete, then a re-upsert of the
    deleted url — order-sensitive on purpose."""
    idx.upsert(docs_df(spark, [
        ("https://a.com/1", "One", "body one"),
        ("https://a.com/2", "Two", "body two"),
    ]))
    idx.upsert(docs_df(spark, [
        ("https://a.com/1", "One v2", "body one v2"),
        ("https://a.com/3", "Three", "body three"),
    ]))
    idx.delete(spark.createDataFrame([("https://a.com/2",)], ["url"]))
    idx.upsert(docs_df(spark, [
        ("https://a.com/2", "Two reborn", "body two again"),
    ]))
    return {
        r.url: (r.title, r.text) for r in idx.read(spark).collect()
    }


def test_log_structured_index_equivalent_to_snapshot(spark, tmp_path):
    """The segment log (O(batch) appends + newest-wins merge-on-read)
    gives, through an upsert-overwrite-delete-reinsert sequence, the
    result the former snapshot layout gave (pinned below from a run of
    that layout). Also pins that upserts never read the store: four
    commits produce exactly four segments."""
    log = IndexTable(str(tmp_path / "log"))
    want = {
        "https://a.com/1": ("One v2", "body one v2"),
        "https://a.com/2": ("Two reborn", "body two again"),
        "https://a.com/3": ("Three", "body three"),
    }
    got = _drive(log, spark)
    assert got == want
    assert len(log.partition_files()) == 4
    # compaction folds to one base, content unchanged, old snapshots
    # vacuumed
    log.compact(spark, 1)
    assert len(log.partition_files()) == 1
    assert {
        r.url: (r.title, r.text) for r in log.read(spark).collect()
    } == want
    assert len(log.versions()) == log.keep
    # post-compaction ops keep working (sequence numbers keep rising)
    log.upsert(docs_df(spark, [("https://a.com/9", "Nine", "n")]))
    assert log.read(spark).count() == len(want) + 1


def test_log_structured_index_crash_unlisted_segment_ignored(
    spark, tmp_path
):
    """Crash contract: a segment written into a snapshot the pointer
    never reached (a torn write) is invisible to readers, and the next
    commit to that version overwrites it rather than double-counting."""
    log = IndexTable(str(tmp_path / "log"))
    log.upsert(docs_df(spark, [("https://a.com/1", "One", "x")]))
    # torn write: the NEXT snapshot holds the next segment, unpublished
    torn = os.path.join(log.snapshot(2), "seg=2")
    log._new_rows(
        docs_df(spark, [("https://evil.example/", "Torn", "y")])
    ).withColumn("__op", F.lit("u")).write.mode("overwrite").parquet(torn)
    assert {r.url for r in log.read(spark).collect()} == {
        "https://a.com/1"
    }
    log.upsert(docs_df(spark, [("https://a.com/2", "Two", "z")]))
    assert {r.url for r in log.read(spark).collect()} == {
        "https://a.com/1", "https://a.com/2"
    }


def test_content_cache_log_structured_split_and_compact(spark, tmp_path):
    """The content cache as a segment log: stores are O(batch) segment
    appends (the content cache is the loop's largest side table),
    split_cached resolves hits/misses, re-stores of the same key do not
    duplicate, and compaction folds to one base with content intact."""
    cache = ContentCache(str(tmp_path / "cache"))
    cache.store(spark.createDataFrame(
        [Row(url="https://a.com/1", content=bytearray(b"ONE"))]
    ))
    cache.store(spark.createDataFrame(
        [Row(url="https://a.com/1", content=bytearray(b"ONE")),
         Row(url="https://a.com/2", content=bytearray(b"TWO"))]
    ))
    assert len(cache.partition_files()) == 2  # appends only
    assert cache.read(spark).count() == 2  # newest-wins dedups the rekey

    batch = spark.createDataFrame(
        [Row(url="https://a.com/1", key="a.com"),
         Row(url="https://a.com/9", key="a.com")]
    )
    hits, misses = cache.split_cached(batch)
    h = hits.collect()
    assert len(h) == 1 and bytes(h[0].content) == b"ONE"
    assert [r.url for r in misses.collect()] == ["https://a.com/9"]

    cache.compact(spark, 1)
    assert len(cache.partition_files()) == 1
    hits2, misses2 = cache.split_cached(batch)
    assert len(hits2.collect()) == 1 and len(misses2.collect()) == 1


def test_log_structured_index_compacts_to_empty(spark, tmp_path):
    """Upsert one doc, delete it, compact: the folded log holds no row,
    so its partitioned write leaves no parquet file — the read still
    returns 0 rows with the index's columns (the table supplies the
    schema instead of inferring it from files)."""
    idx = IndexTable(str(tmp_path / "log"))
    idx.upsert(docs_df(spark, [("https://a.com/1", "One", "x")]))
    idx.delete(spark.createDataFrame([("https://a.com/1",)], ["url"]))
    idx.compact(spark, 1)
    assert idx.partition_files() == {}
    out = idx.read(spark)
    assert out.count() == 0
    assert out.columns == ["doc_id", "url", "title", "text"]


def test_snapshot_layout_store_refused_when_built(spark, tmp_path):
    """A store left in the former snapshot layout (parquet files at the
    snapshot's root, outside seg= partitions) is refused when the index
    or cache object is built. Opened as a segment log it would read 0
    rows without an error — a cache would report every url as a miss —
    and its first append would raise in the middle of a generation."""
    from incubator_stormcrawler_spark.streaming.frontier_table import (
        VersionedTable,
    )

    path = str(tmp_path / "old")
    VersionedTable(path).commit(IndexTable(str(tmp_path / "new"))._new_rows(
        docs_df(spark, [("https://a.com/1", "One", "x")])
    ))
    for store in (IndexTable, ContentCache):
        with pytest.raises(ValueError, match="outside seg= partitions"):
            store(path)
