"""Structured Streaming surface.

The reference is a Storm stream processor; its streaming identity maps to
three Spark shapes, all here:

1. **Windowed aggregation with watermark** — the metrics surface
   (fetched_perSec-style counters, FetcherBolt.java:859-863 /
   PerSecondReducer) as event-time tumbling windows with late-data bounds.
2. **Custom stateful operator** (``applyInPandasWithState``) — TTL'd
   per-key state like the reference's purgatory/dedup caches
   (AbstractQueryingSpout.java:149-175): here a session aggregator with
   gap timeout.
3. **foreachBatch sink** — the status-update stream continuously MERGEd
   into the frontier table (the streaming twin of the batch generation
   loop; same idempotent merge, so at-least-once delivery from the source
   still yields exactly-once table state).

At scale: watermarks bound state; the stateful op partitions by key (one
shuffle); foreachBatch writes go through the same bucketed frontier layout
and ``FrontierTable.merge_commit`` as batch generations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_DDL = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def read_event_stream(spark, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-based event stream (JSON lines) — the test/local stand-in for
    Kafka; schema fixed so the stream never infers."""
    return (
        spark.readStream.schema(EVENT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with a watermark bounding
    late data (and therefore state size — at 100 TB/day of events the
    watermark IS the memory budget)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "num_events",
            "total_value",
        )
    )


SESSION_STATE_DDL = "start timestamp, last timestamp, n int, total double"
SESSION_OUT_DDL = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)


def stateful_sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    sessions closed after ``gap_minutes`` idle — the processing-time-timeout
    analog of the reference's TTL'd in-process state
    (InProcessMap, AbstractQueryingSpout.java:149-175).

    Emits one row per CLOSED session (state timeout fires the flush)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            (start, last, n, total) = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "session_start": start,
                        "session_end": last,
                        "n_events": n,
                        "total_value": round(total, 2),
                    }
                ]
            )
            return
        rows = pd.concat(list(pdfs))
        if state.exists:
            (start, last, n, total) = state.get
        else:
            start, last, n, total = None, None, 0, 0.0
        for ts, val in zip(rows["ts"], rows["value"]):
            if start is None:
                start = ts
            last = max(last, ts) if last is not None else ts
            n += 1
            total += float(val or 0.0)
        state.update((start, last, n, total))
        state.setTimeoutDuration(gap_ms)
        yield pd.DataFrame([], columns=[
            "user_id", "session_start", "session_end", "n_events", "total_value",
        ])

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_DDL,
        stateStructType=SESSION_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


DEDUP_STATE_DDL = "last_seen timestamp"
DEDUP_OUT_DDL = "url string, status string, first_seen timestamp"


def stateful_url_dedup(updates: DataFrame, ttl_minutes: int = 60) -> DataFrame:
    """Streaming discovered-URL dedup — the reference's Caffeine cache
    (AbstractStatusUpdaterBolt.java:150-161, spec 10k entries / 1h expiry)
    and spout purgatory (AbstractQueryingSpout.java:149-175) as an
    ``applyInPandasWithState`` operator: emit a URL the FIRST time it's
    seen within the TTL window; suppress repeats; state expires after
    ``ttl_minutes`` idle so re-discoveries after expiry emit again.

    Keyed on url → one shuffle; state size = active URL set within TTL,
    bounded by the timeout exactly like the Caffeine expireAfterAccess."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ttl_ms = int(ttl_minutes * 60 * 1000)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=["url", "status", "first_seen"])
            return
        rows = pd.concat(list(pdfs))
        first = not state.exists
        ts = rows["ts"].min() if "ts" in rows else None
        state.update((ts,))
        state.setTimeoutDuration(ttl_ms)
        if first and len(rows):
            yield pd.DataFrame(
                [{
                    "url": key[0],
                    "status": rows["status"].iloc[0],
                    "first_seen": ts,
                }]
            )
        else:
            yield pd.DataFrame([], columns=["url", "status", "first_seen"])

    return updates.groupBy("url").applyInPandasWithState(
        fn,
        outputStructType=DEDUP_OUT_DDL,
        stateStructType=DEDUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def make_streaming_merger(table, now_fn=None):
    """The foreachBatch function for continuous frontier maintenance,
    factored out so tests can drive epoch replay directly. ``table`` is a
    bucket-partitioned ``FrontierTable``: each epoch is one
    ``merge_commit``, the batch loop's write path, which rewrites only
    the buckets the epoch touches. Exactly-once: foreachBatch is
    at-least-once on failure (a crash between the commit and the
    checkpoint write REPLAYS the epoch), and FETCH_ERROR escalation is
    not naturally idempotent — so the epoch id is recorded in the
    snapshot and the commit of a replayed epoch is a no-op (the
    streaming use of the table's batch_id contract; Delta's foreachBatch
    txnAppId/txnVersion idiom)."""

    def merge_batch(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        now = (now_fn or (lambda b: f"2024-01-15 {b % 24:02d}:00:00"))(batch_id)
        table.merge_commit(spark, batch_df, now, batch_id=f"epoch-{batch_id}")

    return merge_batch


def stream_status_updates_into_frontier(
    updates_stream: DataFrame,
    frontier_path: str,
    checkpoint_path: str,
    now_fn=None,
):
    """Continuous frontier maintenance: each micro-batch of (url, status)
    updates MERGEs into the frontier table via foreachBatch — the streaming
    twin of CrawlLoop's per-generation merge (same operator, same
    exactly-once epoch guard; see ``make_streaming_merger``)."""
    from .frontier_table import FrontierTable

    table = FrontierTable(frontier_path, partition_by="bucket")
    return (
        updates_stream.writeStream.foreachBatch(
            make_streaming_merger(table, now_fn)
        )
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
