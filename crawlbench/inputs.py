"""Seeded benchmark inputs: a synthetic frontier over the closed graph that
``SyntheticGraphProtocol`` serves.

Everything here is plain NumPy/Python so that the same seed gives the same
rows in any process, independent of Spark's partitioning. The program under
test only ever sees the generated rows.
"""

from __future__ import annotations

import calendar
import hashlib
from datetime import datetime

import numpy as np
import pandas as pd

# Crawl clock origin. The crawl's ``now_fn`` ticks one minute per
# generation from here, and the read workload queries at exactly this time.
CLOCK_ORIGIN = datetime(2024, 1, 15)
# DISCOVERED rows fall due up to this far before the origin; FETCHED rows
# become due again between one day and this far after it.
SPREAD_MINUTES = 30 * 1440


def page_url(i: int, hosts: int) -> str:
    """URL of page ``i`` exactly as SyntheticGraphProtocol serves it."""
    return f"https://h{i % hosts}.example/p{i}"


def frontier_rows(
    seed: int, n_pages: int, hosts: int, due_share: float = 0.5
) -> pd.DataFrame:
    """One frontier row per page of an ``n_pages`` graph.

    The seed picks which pages are due (status DISCOVERED, next fetch in
    the 30 days before the clock origin) and the spread of every row's
    ``next_fetch_date``; the remaining pages are FETCHED and not due
    during a run (next fetch 1 to 31 days after the origin). Hosts follow
    the graph's own assignment, page ``i`` on host ``i % hosts``, so the
    protocol serves every URL of the frontier.
    """
    rng = np.random.default_rng(seed)
    due = rng.random(n_pages) < due_share
    minutes = rng.integers(1, SPREAD_MINUTES, n_pages)
    offset = np.where(due, -minutes, 1440 + minutes).astype("timedelta64[m]")
    nfd = np.datetime64(CLOCK_ORIGIN, "us") + offset
    return pd.DataFrame(
        {
            "url": [page_url(i, hosts) for i in range(n_pages)],
            "status": np.where(due, "DISCOVERED", "FETCHED"),
            "next_fetch_date": nfd.astype("datetime64[us]"),
            "error_count": np.zeros(n_pages, dtype="int32"),
            "depth": np.zeros(n_pages, dtype="int32"),
        }
    )


def due_urls(rows: pd.DataFrame) -> list[str]:
    """The seed list: URLs due at the clock origin, in page order."""
    return rows.loc[rows["status"] == "DISCOVERED", "url"].tolist()


def epoch_us(ts: datetime) -> int:
    """Microseconds since the epoch of a naive UTC datetime."""
    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


def checksum(pairs) -> str:
    """Order-independent digest of ``(url, next_fetch_date_us)`` pairs."""
    h = hashlib.sha256()
    for url, us in sorted(pairs):
        h.update(f"{url}\t{us}\n".encode())
    return h.hexdigest()


def frontier_checksum(rows: pd.DataFrame) -> str:
    us = rows["next_fetch_date"].to_numpy().astype("datetime64[us]")
    return checksum(zip(rows["url"], us.astype("int64").tolist()))
