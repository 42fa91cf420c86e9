"""Sinks — the indexer side of the pipeline (SURVEY.md §2.9).

- ``IndexTable``: the OpenSearch/Solr/SQL IndexerBolt contract
  (external/opensearch/.../bolt/IndexerBolt.java:81-123) against a local
  ``VersionedTable`` (streaming/frontier_table.py): upsert docs by doc
  id, apply the ``deletion`` stream (DeletionBolt.java:53-58 — ERROR'd
  docs leave the index).
  On a cluster the same DataFrames go to ``df.write.format("opensearch")``
  or ``foreachBatch`` bulk writers; the projection and deletion semantics
  live here, the transport is swappable.
- ``ContentCache``: the S3 content cache (external/aws/.../s3/S3Cacher.java,
  S3CacheChecker.java): content-addressed store keyed by sha256(url);
  ``split_cached`` partitions a fetch batch into cache hits (skip refetch)
  and misses — expressed as a real join, exactly the "implicit join" the
  reference hides in a bolt (SURVEY.md §2.10 joins).
- ``write_jdbc``: SQL IndexerBolt (external/sql/.../IndexerBolt.java:39)
  as a thin JDBC writer, import/driver-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import sha256_doc_id_expr
from ..streaming.frontier_table import VersionedTable


INDEX_DDL = "doc_id string, url string, title string, text string"


class _KeyedStore:
    """Upsert-by-key store on one :class:`VersionedTable`, in one of two
    layouts with identical semantics (equivalence pinned by
    tests/test_indexing.py):

    - snapshot (default): upsert = anti-join old against new keys, then
      union; every commit replaces the table — fine for tests and small
      stores, O(|store|) write per generation.
    - ``log_structured=True``: append-only segment log with newest-wins
      MERGE-ON-READ — the LSM shape every real index backend
      (OpenSearch/Lucene, Delta MoR, Iceberg v2 deletes) uses for this
      workload. The table is partitioned by ``seg``: a commit appends
      one ``seg=N`` partition (O(|batch|) write, no read of the store,
      every older segment carried forward), the read side resolves
      newest-wins per key by ``seg``, and :meth:`compact` (wired to the
      crawl loop's ``compact_every`` cadence) folds the log back into
      one segment. Read cost is bounded by the cadence, write cost by
      the batch (SCALING.json ``index_upsert`` pins the flat curve
      against the snapshot rewrite's linear one). Bucket pruning does
      NOT transfer here: batch keys are hash-spread, so any
      realistically-sized generation touches every bucket.

    Subclasses set ``DDL`` (the store's columns) and ``KEY``.
    """

    DDL: str
    KEY: str

    def __init__(self, path: str, log_structured: bool = False):
        self.log_structured = log_structured
        self.table = VersionedTable(
            path, partition_by="seg" if log_structured else None
        )

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.log_structured:
            return self.table.read(spark, schema=self.DDL)
        from pyspark.sql import Window

        # ONE hash shuffle on the key (the window), sized by base +
        # deltas — the read-side price of O(batch) writes
        w = Window.partitionBy(self.KEY).orderBy(F.desc("seg"))
        return (
            self.table.read(spark, schema=self.DDL + ", __op string, seg int")
            .withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (F.col("__op") == "u"))
            .drop("__rn", "__op", "seg")
        )

    def _write_segment(
        self, rows: DataFrame, op: str, alone: bool = False
    ) -> int:
        """Commit ``rows`` as the next segment, tagged ``__op`` = 'u'
        (upsert) or 'd' (delete tombstone). Every older segment carries
        forward, unless ``alone`` makes it the only one (compaction)."""
        return self.table.append(rows.withColumn("__op", F.lit(op)), alone)

    def _upsert(self, new: DataFrame) -> int:
        if self.log_structured:
            return self._write_segment(new, "u")
        old = self.read(new.sparkSession)
        kept = old.join(new.select(self.KEY), self.KEY, "left_anti")
        return self.table.commit(kept.unionByName(new))

    def compact(self, spark: SparkSession) -> None:
        """Fold the log into one segment (the OPTIMIZE / Lucene-merge
        step). No-op in snapshot mode, where every commit is already one
        base."""
        if self.log_structured and len(self.table.partition_files()) > 1:
            self._write_segment(self.read(spark), "u", alone=True)


class IndexTable(_KeyedStore):
    """Document index with upsert + deletion semantics.

    doc id = sha256(url) (AbstractStatusUpdaterBolt.java:251-253 uses the
    same identity for status docs). ``log_structured=True`` is the
    100 TB mode: per-generation index cost tracks the batch, not the
    accumulated index (see :class:`_KeyedStore`).
    """

    DDL = INDEX_DDL
    KEY = "doc_id"

    def _new_rows(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            sha256_doc_id_expr(F.col("url")).alias("doc_id"),
            "url",
            F.col("title") if "title" in docs.columns else F.lit(None).alias("title"),
            F.col("text") if "text" in docs.columns else F.lit(None).alias("text"),
        ).dropDuplicates(["doc_id"])

    def upsert(self, docs: DataFrame) -> int:
        """docs: DataFrame(url, title, text) — newest wins per URL."""
        return self._upsert(self._new_rows(docs))

    def delete(self, urls: DataFrame) -> int:
        """Apply the deletion stream (DeletionBolt): drop docs whose URL
        went terminal-ERROR."""
        ids = urls.select(sha256_doc_id_expr(F.col("url")).alias("doc_id"))
        if self.log_structured:
            null = F.lit(None).cast("string")
            return self._write_segment(
                ids.select(
                    "doc_id", null.alias("url"), null.alias("title"),
                    null.alias("text"),
                ),
                "d",
            )
        return self.table.commit(
            self.read(urls.sparkSession).join(ids, "doc_id", "left_anti")
        )


CACHE_DDL = "cache_key string, url string, content binary, stored_at string"


class ContentCache(_KeyedStore):
    """Content-addressed page cache (S3Cacher/S3CacheChecker semantics):
    store fetched bytes once, skip refetching cached URLs.

    ``log_structured=True`` gives the cache the same LSM shape as the
    index — the snapshot mode's ``store()`` rewrites the ENTIRE cache
    per generation, and a content cache is the loop's LARGEST side
    table (raw page bytes: at 100 TB of crawl this store IS the
    corpus). Keys are content-addressed (sha256(url)), so newest-wins
    resolution is a no-op in effect — but the same segment machinery
    applies unchanged, and compaction rides the loop cadence."""

    DDL = CACHE_DDL
    KEY = "cache_key"

    def store(self, pages: DataFrame, stored_at: str = "2024-01-15") -> int:
        return self._upsert(pages.select(
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
