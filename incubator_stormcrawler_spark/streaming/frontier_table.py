"""Versioned parquet tables: atomic snapshot commits, one protocol.

Every table the crawl keeps between generations — the frontier, the
resolved redirect map, the index, the content cache and the crawl
loop's side stores (host edges, redirect edges, MinHash signatures and
band keys) — is a :class:`VersionedTable`. The frontier is read and
rewritten every generation (and concurrently read by monitors), so
overwrite-in-place races readers. This is the minimal table format that fixes it: each
commit writes a new ``v<NNNNNN>`` snapshot directory, then atomically
replaces the ``_VERSION`` pointer file; readers resolve the pointer
first. On a real cluster this maps 1:1 onto Delta/Iceberg (``MERGE
INTO`` + snapshot isolation); the operator code is identical either way
— only this storage shim changes.

The index, the content cache and the side stores are one kind of
table on it, a :class:`SegmentLog`: per-commit delta segments folded by
a periodic compaction — the state-store format of Structured Streaming
(delta files plus snapshots).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FRONTIER_DDL = (
    "url string, status string, next_fetch_date timestamp, "
    "error_count int, key string, bucket int"
)


class VersionedTable:
    """Snapshot-versioned parquet table with one commit step.

    Layout: ``v%06d`` snapshot directories (hive-partitioned by
    ``partition_by`` when set), the ``_VERSION`` pointer naming the
    current one, and an optional ``_BATCH`` file in a snapshot holding
    the table's exactly-once mark. The last ``keep`` snapshots are
    retained for readers and time travel.

    :meth:`commit` covers three modes, chosen by ``rewrites``:

    - replace (``rewrites=None``): ``df`` is the whole next snapshot;
    - carry-forward (``rewrites`` = partition values): ``df`` holds the
      rows of those partitions only, and every other partition of the
      current snapshot is hard-linked into the new one — byte-identical
      file reuse, how a real table format carries unmodified files
      forward in its log;
    - append: carry-forward with one fresh partition value — a
      :class:`SegmentLog` segment.

    Crash contract, single writer: a commit is visible only once the
    pointer flips. A crash before the flip leaves a partial snapshot
    directory that no reader resolves and the retry replaces. A retry
    after the flip (the caller never saw the ack) with the same
    ``batch_id`` is a no-op, because the current snapshot already
    carries that mark (Delta's ``txnAppId``/``txnVersion`` idiom). The
    mark is a single slot: right for one writer per table; a
    multi-writer table needs a per-writer map, which is where a real
    lakehouse's transaction log comes in.
    """

    def __init__(
        self, path: str, partition_by: str | None = None, keep: int = 3
    ):
        self.path = path
        self.partition_by = partition_by
        self.keep = keep
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_VERSION")

    def snapshot(self, version: int | None = None) -> str:
        """Directory of ``version`` (default: the current one)."""
        v = self.current_version() if version is None else version
        return os.path.join(self.path, f"v{v:06d}")

    def current_version(self) -> int:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def exists(self) -> bool:
        return self.current_version() > 0

    def versions(self) -> list[int]:
        """Retained snapshot versions, ascending (the time-travel menu).
        A directory past the pointer is a crashed commit's, not a
        version."""
        current = self.current_version()
        return sorted(
            int(name[1:])
            for name in os.listdir(self.path)
            if name.startswith("v") and name[1:].isdigit()
            and int(name[1:]) <= current
        )

    def last_batch_id(self) -> str | None:
        """Batch id recorded by the current snapshot's commit (None for
        an empty table or one never committed with a batch id)."""
        try:
            with open(os.path.join(self.snapshot(), "_BATCH")) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def partition_files(self) -> dict[str, int]:
        """Parquet file count per partition value of the current
        snapshot — driver-side metadata, never a data read."""
        snap = self.snapshot()
        if not self.partition_by or not os.path.isdir(snap):
            return {}
        prefix = self.partition_by + "="
        return {
            name[len(prefix):]: sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(snap, name))
            )
            for name in os.listdir(snap)
            if name.startswith(prefix)
        }

    def check_partitioned(self) -> None:
        """Raise when the current snapshot holds parquet files outside
        partition directories (written without ``partition_by``): a
        carry-forward commit links partitions only, so it would drop
        those rows. A driver-side listing, never a data read."""
        snap = self.snapshot()
        if os.path.isdir(snap) and any(
            name.endswith(".parquet") for name in os.listdir(snap)
        ):
            raise ValueError(
                f"{snap} holds parquet files outside {self.partition_by}="
                " partitions; a carry-forward commit would drop them —"
                " convert it with a replace commit first (MIGRATION.md)"
            )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        schema: str | None = None,
    ) -> DataFrame:
        """Read the current snapshot, or a retained ``version`` (time
        travel — the Delta ``VERSION AS OF`` shape: snapshots are
        immutable once the pointer moves past them). Vacuumed versions
        raise, same as Delta after VACUUM. ``schema`` (DDL, partition
        column included) is the table's schema: required for an empty
        table, and it also reads a partitioned snapshot whose write left
        no parquet file (an empty frame); without it the schema is read
        from the files."""
        v = self.current_version() if version is None else version
        if v == 0:
            return spark.createDataFrame([], schema)
        snap = self.snapshot(v)
        if version is not None and not os.path.isdir(snap):
            raise ValueError(
                f"version {version} not retained (current "
                f"{self.current_version()}, keep={self.keep} — vacuumed)"
            )
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(snap)

    def commit(
        self,
        df: DataFrame,
        rewrites: list[int] | None = None,
        batch_id: str | None = None,
    ) -> int:
        """The table's one commit step; returns the current version
        after it. ``df`` may read from the current snapshot: the write
        targets the next one, so it never overwrites its own input.

        1. A ``batch_id`` equal to the current mark is a replay: return
           without writing.
        2. Write ``df`` into the next snapshot (skipped when ``rewrites``
           is empty). A carry-forward commit first runs
           :meth:`check_partitioned`: step 3 links partitions only.
        3. Hard-link every partition of the current snapshot that
           ``rewrites`` does not name (``None`` replaces everything).
        4. Write the mark: ``batch_id``, or the previous mark carried
           forward — an untagged commit (e.g. seed injection between a
           crash and its replay) must not erase the guard.
        5. Flip the pointer, then vacuum all but the last ``keep``.
        """
        mark = self.last_batch_id()
        v = self.current_version()
        if batch_id is not None and batch_id == mark:
            return v
        if rewrites is not None:
            self.check_partitioned()
        old, new = self.snapshot(v), self.snapshot(v + 1)
        # leftovers of a crashed attempt are in no reader's lineage
        shutil.rmtree(new, ignore_errors=True)
        if rewrites is None or len(rewrites):
            writer = df.write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(self.partition_by)
            writer.parquet(new)
        os.makedirs(new, exist_ok=True)
        if rewrites is not None and os.path.isdir(old):
            prefix = self.partition_by + "="
            skip = {f"{prefix}{r}" for r in rewrites}
            for name in os.listdir(old):
                if not name.startswith(prefix) or name in skip:
                    continue
                os.makedirs(os.path.join(new, name), exist_ok=True)
                for fname in os.listdir(os.path.join(old, name)):
                    if fname.endswith(".parquet"):
                        # the new snapshot references the same bytes;
                        # vacuuming the old one cannot orphan them
                        os.link(
                            os.path.join(old, name, fname),
                            os.path.join(new, name, fname),
                        )
        mark = batch_id if batch_id is not None else mark
        if mark is not None:
            with open(os.path.join(new, "_BATCH"), "w") as f:
                f.write(mark)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v + 1))
        os.replace(tmp, self._pointer)
        for old_v in self.versions():
            if old_v <= v + 1 - self.keep:
                shutil.rmtree(self.snapshot(old_v), ignore_errors=True)
        return v + 1


class SegmentLog(VersionedTable):
    """Append-only log of ``seg=N`` segments over ``schema`` (DDL),
    folded into one segment by :meth:`compact`.

    - :meth:`append` writes ``df`` as segment N, one past the largest,
      and hard-links every older one: an O(batch) commit that never
      reads the log.
    - :meth:`read` is the union of every segment when ``key`` is None.
      With a ``key`` it is merge-on-read, the LSM shape of an
      OpenSearch/Lucene index or Delta/Iceberg merge-on-read: the newest
      row per key by ``seg`` wins, and a tombstone (``__op`` = 'd')
      drops the key. That read is one hash shuffle on the key over
      every segment, which the compaction cadence bounds.
    - :meth:`compact` is a replace commit of :meth:`read` as one
      segment. It writes the next snapshot, never its own input, so a
      crash leaves the log as it was.

    A store in the snapshot layout (files outside ``seg=`` partitions)
    is refused when the object is built: it would read as empty and
    fail at its first append."""

    def __init__(self, path: str, schema: str, key: str | None = None):
        super().__init__(path, partition_by="seg")
        self.schema = schema
        self.key = key
        self.check_partitioned()

    def _segment(self, df: DataFrame, op: str) -> tuple[DataFrame, int]:
        """``df`` tagged as the next segment (and ``__op`` = ``op`` in a
        keyed log), with that segment's number."""
        seg = max(map(int, self.partition_files()), default=0) + 1
        if self.key is not None:
            df = df.withColumn("__op", F.lit(op))
        return df.withColumn("seg", F.lit(seg)), seg

    def append(
        self, df: DataFrame, op: str = "u", batch_id: str | None = None
    ) -> int:
        """Commit ``df`` as the next segment. In a keyed log ``op`` is
        'u' (upsert) or 'd' (tombstone: only the key column counts).
        ``batch_id`` is :meth:`commit`'s exactly-once mark."""
        rows, seg = self._segment(df, op)
        return self.commit(rows, rewrites=[seg], batch_id=batch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        if self.key is None:
            return super().read(
                spark, schema=self.schema + ", seg int"
            ).drop("seg")
        w = Window.partitionBy(self.key).orderBy(F.desc("seg"))
        return (
            super().read(spark, schema=self.schema + ", __op string, seg int")
            .withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (F.col("__op") == "u"))
            .drop("__rn", "__op", "seg")
        )

    def compact(self, spark: SparkSession, files: int) -> int:
        """Fold the log into one segment of at most ``files`` files (the
        OPTIMIZE / Lucene-merge step); returns the current version. A
        log of one segment is left alone."""
        if len(self.partition_files()) <= 1:
            return self.current_version()
        rows, _ = self._segment(self.read(spark).repartition(files), "u")
        return self.commit(rows)


def _distinct_ints(df: DataFrame) -> list[int]:
    """Sorted distinct values of a one-column int frame — a
    metadata-sized collect (at most the bucket count after the
    distinct)."""
    return sorted(r[0] for r in df.distinct().collect())


class FrontierTable(VersionedTable):
    """The crawl frontier on a :class:`VersionedTable`.

    ``partition_by="bucket"`` stores each snapshot hive-partitioned by
    the politeness-bucket column (Phase-4 layout, SURVEY.md §7): a
    generation that crawls one shard (``frontier_topk(..., bucket=b)``)
    then scans ONLY that bucket's files — the filter becomes a
    PartitionFilter, not a row filter. At 100 TB this is the difference
    between reading 1/N of the table and reading all of it.

    ``commit`` (inherited) replaces the table; ``merge_commit`` and
    ``compact`` only choose which buckets to rewrite. Both go through
    ``VersionedTable.commit`` directly, never through ``self.commit``,
    so a wrapper around one public method sees exactly its own
    commits."""

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The current snapshot or a retained ``version`` (keep=3); an
        empty table reads as an empty ``FRONTIER_DDL`` frame."""
        if version is None and not self.exists():
            return spark.createDataFrame([], FRONTIER_DDL)
        return super().read(spark, version)

    def merge_commit(
        self,
        spark: SparkSession,
        updates: DataFrame,
        now: str,
        batch_id: str | None = None,
    ) -> int:
        """Delta-``MERGE INTO``-shaped incremental commit: rewrite ONLY the
        bucket partitions the update batch touches; every untouched
        bucket's files carry into the new snapshot as hard links.

        Plan shape (the 100 TB story, now demonstrated rather than
        asserted):
          1. touched buckets = distinct ``bucket(host(url))`` of the update
             batch — driver-side METADATA bounded by the bucket count (what
             Delta materializes from its log), not data;
          2. the frontier scan is filtered to those buckets, which the
             hive-partitioned snapshot turns into a PartitionFilter — only
             1/N of the table's files are read (plan-audited in
             tests/test_streaming.py);
          3. ``merge_status_updates`` runs on that pruned slice only;
          4. unmatched partitions: zero read, zero write, zero shuffle.

        Requires ``partition_by="bucket"`` and byHost politeness keys (the
        bucket must be derivable from the URL on both sides).

        Exactly-once (SURVEY §3.1, reference
        ``AbstractStatusUpdaterBolt.java:150-161``) is the table's crash
        contract: a retry before the pointer flip replaces the partial
        snapshot, a retry after it with the same ``batch_id`` is a no-op
        — pinned by
        tests/test_streaming.py::test_merge_commit_crash_restart_idempotent.
        """
        from ..functions.urls import bucket_expr, host_key_expr
        from ..operators.status_merge import merge_status_updates

        if self.partition_by != "bucket":
            raise ValueError("merge_commit requires partition_by='bucket'")
        if batch_id is not None and batch_id == self.last_batch_id():
            return self.current_version()  # a replay runs no Spark job
        touched = _distinct_ints(
            updates.select(bucket_expr(host_key_expr(F.col("url"))))
        )
        pruned = self.read(spark).where(F.col("bucket").isin(touched))
        merged = merge_status_updates(pruned, updates, now)
        return super().commit(merged, rewrites=touched, batch_id=batch_id)

    def compact(
        self, spark: SparkSession, max_files_per_bucket: int = 1
    ) -> int:
        """OPTIMIZE (small-file compaction) for the bucket-partitioned
        table — the operational primitive every incremental lakehouse
        merge makes necessary: each ``merge_commit`` rewrites a touched
        bucket with however many write tasks hold its rows (AQE
        coalesces the merge's write to 2–3 tasks, so 2–3 files per
        bucket per generation), and a long crawl accretes exactly the
        small-file problem Delta/Iceberg ``OPTIMIZE`` exists for.

        Rewrites ONLY buckets whose parquet file count exceeds
        ``max_files_per_bucket`` — ``repartition(n, "bucket")`` puts each
        fragmented bucket's rows in exactly ONE task, so each compacts to
        exactly one file — and hard-links every already-compact bucket
        into the new snapshot unchanged. Content is untouched by
        construction; the batch-id mark carries forward so the
        exactly-once retry guard survives compaction. The fragmentation
        inventory is ``partition_files`` — metadata bounded by the
        bucket count, never a data read. Returns the new version (or the
        current one when nothing is fragmented — no empty commits)."""
        if self.partition_by != "bucket":
            raise ValueError("compact requires partition_by='bucket'")
        frag = sorted(
            int(b) for b, n in self.partition_files().items()
            if n > max_files_per_bucket
        )
        if not frag:
            return self.current_version()
        frontier = self.read(spark).where(F.col("bucket").isin(frag))
        return super().commit(
            frontier.repartition(len(frag), "bucket"), rewrites=frag
        )


RESOLVED_MAP_BUCKETS = 32


class ResolvedMapStore(VersionedTable):
    """The crawl loop's resolved redirect map: a bucket-partitioned
    :class:`VersionedTable` keeping only its current snapshot (r12
    verdict item 2: the loop used to rewrite the COMPLETE map every
    generation, O(|map|) write for a handful of changed rows).
    ``bucket = pmod(xxhash64(url), RESOLVED_MAP_BUCKETS)``.

    Delta-bounded commit: ``write(new_map, changed=<urls>)`` rewrites
    ONLY the buckets containing changed rows; every other bucket carries
    forward. Sound because the map is append/update-only per generation
    (first-wins keeps, plus the delta-sized fresh/invalid rows): a row
    outside a touched bucket is bit-identical in old and new map by
    construction (operators/linkrank.py incremental_redirect_resolve —
    ``keep`` rows are emitted unchanged). A retried generation whose
    delta was already folded produces an all-linked snapshot (zero data
    written) — the idempotence test pins that. The next snapshot never
    overwrites the one the new map's plan reads the prior map from.
    """

    SCHEMA = "url string, target string, hops bigint, resolved int"

    def __init__(self, path: str):
        super().__init__(path, partition_by="bucket", keep=1)

    @staticmethod
    def _bucket_expr():
        return F.pmod(
            F.xxhash64(F.col("url")), F.lit(RESOLVED_MAP_BUCKETS)
        ).cast("int")

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        return super().read(
            spark, version, schema=self.SCHEMA + ", bucket int"
        ).select("url", "target", "hops", "resolved")

    def write(
        self, resolved: DataFrame, changed: DataFrame | None = None
    ) -> int:
        """Commit ``resolved`` as the next snapshot. With ``changed`` (a
        1-column ``url`` frame of rows that differ from the prior map —
        the incremental resolve's delta) and an existing snapshot, only
        touched buckets are computed-and-written; the rest hard-link.
        Returns the committed version."""
        data = resolved.withColumn("bucket", self._bucket_expr())
        if changed is None or not self.exists():
            return self.commit(data)
        touched = _distinct_ints(changed.select(self._bucket_expr()))
        return self.commit(
            data.where(F.col("bucket").isin(touched)), rewrites=touched
        )
