"""Sinks — the indexer side of the pipeline (SURVEY.md §2.9).

- ``IndexTable``: the OpenSearch/Solr/SQL IndexerBolt contract
  (external/opensearch/.../bolt/IndexerBolt.java:81-123) against a local
  keyed ``SegmentLog`` (streaming/frontier_table.py): upsert docs by doc
  id, apply the ``deletion`` stream (DeletionBolt.java:53-58 — ERROR'd
  docs leave the index). Both are O(batch) segment appends that never
  read the store; newest-wins resolves at read, and the crawl loop's
  ``compact_every`` cadence folds the segments (SCALING.json
  ``index_upsert`` pins the flat commit cost). Bucket pruning does not
  transfer here: batch keys are hash-spread, so any realistically-sized
  generation touches every bucket.
  On a cluster the same DataFrames go to ``df.write.format("opensearch")``
  or ``foreachBatch`` bulk writers; the projection and deletion semantics
  live here, the transport is swappable.
- ``ContentCache``: the S3 content cache (external/aws/.../s3/S3Cacher.java,
  S3CacheChecker.java): content-addressed keyed ``SegmentLog`` by
  sha256(url);
  ``split_cached`` partitions a fetch batch into cache hits (skip refetch)
  and misses — expressed as a real join, exactly the "implicit join" the
  reference hides in a bolt (SURVEY.md §2.10 joins).
- ``write_jdbc``: SQL IndexerBolt (external/sql/.../IndexerBolt.java:39)
  as a thin JDBC writer, import/driver-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import sha256_doc_id_expr
from ..streaming.frontier_table import SegmentLog


INDEX_DDL = "doc_id string, url string, title string, text string"


class IndexTable(SegmentLog):
    """Document index with upsert + deletion semantics.

    doc id = sha256(url) (AbstractStatusUpdaterBolt.java:251-253 uses the
    same identity for status docs). ``log_structured`` is accepted only
    as True, the one layout: the snapshot layout, which rewrote the
    whole index every generation, is gone (MIGRATION.md converts a
    store left in it).
    """

    def __init__(self, path: str, log_structured: bool = True):
        if log_structured is not True:
            raise ValueError(
                "log_structured: the snapshot index layout is gone; the"
                " index is always a segment log"
            )
        super().__init__(path, INDEX_DDL, key="doc_id")

    def _new_rows(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            sha256_doc_id_expr(F.col("url")).alias("doc_id"),
            "url",
            F.col("title") if "title" in docs.columns else F.lit(None).alias("title"),
            F.col("text") if "text" in docs.columns else F.lit(None).alias("text"),
        ).dropDuplicates(["doc_id"])

    def upsert(self, docs: DataFrame) -> int:
        """docs: DataFrame(url, title, text) — newest wins per URL."""
        return self.append(self._new_rows(docs))

    def delete(self, urls: DataFrame) -> int:
        """Apply the deletion stream (DeletionBolt): drop docs whose URL
        went terminal-ERROR, as a segment of tombstones."""
        null = F.lit(None).cast("string")
        return self.append(
            urls.select(
                sha256_doc_id_expr(F.col("url")).alias("doc_id"),
                null.alias("url"), null.alias("title"), null.alias("text"),
            ),
            op="d",
        )


CACHE_DDL = "cache_key string, url string, content binary, stored_at string"


class ContentCache(SegmentLog):
    """Content-addressed page cache (S3Cacher/S3CacheChecker semantics):
    store fetched bytes once, skip refetching cached URLs.

    The cache is the loop's LARGEST side table (raw page bytes: at
    100 TB of crawl this store IS the corpus), so a store is an O(batch)
    segment append, never a rewrite. Keys are content-addressed
    (sha256(url)), so newest-wins resolution is a no-op in effect, and
    compaction rides the loop cadence."""

    def __init__(self, path: str):
        super().__init__(path, CACHE_DDL, key="cache_key")

    def store(self, pages: DataFrame, stored_at: str = "2024-01-15") -> int:
        return self.append(pages.select(
            sha256_doc_id_expr(F.col("url")).alias("cache_key"),
            "url",
            "content",
            F.lit(stored_at).alias("stored_at"),
        ).dropDuplicates(["cache_key"]))

    def split_cached(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(hits, misses): hits carry cached content — the S3CacheChecker
        join; misses proceed to the fetcher."""
        spark = batch.sparkSession
        cache = self.read(spark).select(
            "cache_key", F.col("content").alias("cached_content")
        )
        keyed = batch.withColumn(
            "cache_key", sha256_doc_id_expr(F.col("url"))
        )
        hits = (
            keyed.join(F.broadcast(cache), "cache_key")
            .drop("cache_key")
            .withColumnRenamed("cached_content", "content")
        )
        misses = keyed.join(cache.select("cache_key"), "cache_key", "left_anti").drop(
            "cache_key"
        )
        return hits, misses


def write_console(docs: DataFrame, n: int = 20) -> None:
    """StdOutIndexer (core/.../indexing/StdOutIndexer.java:35)."""
    docs.show(n, truncate=80)


def write_jdbc(
    docs: DataFrame, jdbc_url: str, table: str, mode: str = "append", **options
) -> None:
    """SQL IndexerBolt (external/sql/.../IndexerBolt.java:39): plain JDBC
    batch writes — Spark batches per partition like the reference's 1000-row
    insert batches. Requires a JDBC driver on the classpath; raises a clear
    error otherwise."""
    docs.write.mode(mode).options(**options).jdbc(jdbc_url, table)
