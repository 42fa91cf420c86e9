"""DuckDB reference answers for the frontier reads, over the same parquet
snapshot the Spark query read."""

from __future__ import annotations

import duckdb


class FrontierOracle:
    def __init__(self):
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    @staticmethod
    def _scan(snapshot: str) -> str:
        return (
            f"read_parquet('{snapshot}/*/*.parquet', hive_partitioning=true)"
        )

    def topk(
        self,
        snapshot: str,
        now_us: int,
        max_per_bucket: int,
        max_results: int | None,
        bucket: int | None = None,
    ) -> list[tuple[str, int]]:
        """``operators.frontier.frontier_topk``: per key, the earliest-due
        URLs up to ``max_per_bucket``, globally capped in (due, url) order."""
        where = f"epoch_us(next_fetch_date) <= {now_us}"
        if bucket is not None:
            where += f" AND bucket = {bucket}"
        limit = f"LIMIT {max_results}" if max_results is not None else ""
        return self.con.execute(
            f"""
            SELECT url, nfd FROM (
                SELECT url, epoch_us(next_fetch_date) AS nfd,
                       row_number() OVER (
                           PARTITION BY key ORDER BY next_fetch_date, url
                       ) AS rn
                FROM {self._scan(snapshot)} WHERE {where}
            ) WHERE rn <= {max_per_bucket}
            ORDER BY nfd, url {limit}
            """
        ).fetchall()

    def status_counts(self, snapshot: str) -> dict[str, int]:
        return dict(
            self.con.execute(
                f"SELECT status, count(*) FROM {self._scan(snapshot)} "
                "GROUP BY status"
            ).fetchall()
        )

    def histogram(self, snapshot: str, bucket_minutes: int) -> dict[int, int]:
        """``operators.frontier.next_fetch_histogram`` keyed by the bucket's
        epoch second."""
        secs = bucket_minutes * 60
        return dict(
            self.con.execute(
                f"""
                SELECT CAST(floor(epoch(next_fetch_date) / {secs}) * {secs}
                            AS BIGINT), count(*)
                FROM {self._scan(snapshot)} WHERE status <> 'ERROR'
                GROUP BY 1
                """
            ).fetchall()
        )
