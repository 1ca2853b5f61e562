"""Config-driven serving fan-out (SURVEY P3-P5, §3.3).

The reference enumerates 24 feed configs = {all, 7days, current} ×
{planned, unplanned} × {v0, v1, v1.1, v1.2} in Python lists
(ServiceAlertBroadcaster.py:51-59) and loops them.  The engine keeps the
configs as *data*; plans/broadcaster.py renders all of them from one
projection of gold (a flag per window, the planned flag, one JSON column
per API version) that it collects once, so the fan-out costs one Spark job
regardless of feed count.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference ServiceAlertBroadcaster.py:51-59.
WINDOWS = ("all", "7days", "current")
PLANNED_STATES = (True, False)
VERSIONS = ("v0", "v1", "v1.1", "v1.2")


@dataclass(frozen=True)
class FeedConfig:
    """One serving feed = time window × planned flag × API version."""

    window: str  # 'all' | '7days' | 'current'
    planned: bool
    version: str  # 'v0' | 'v1' | 'v1.1' | 'v1.2'

    @property
    def path(self) -> str:
        kind = "planned" if self.planned else "unplanned"
        return f"{self.version}/service-alerts/{self.window}/{kind}.json"


def all_feed_configs() -> list[FeedConfig]:
    """The full 24-feed matrix (reference ServiceAlertBroadcaster.py:51-59)."""
    return [
        FeedConfig(w, p, v)
        for v in VERSIONS
        for w in WINDOWS
        for p in PLANNED_STATES
    ]


def time_window_predicate(
    window: str, now: datetime, expiry_col: str = "expiry_date"
) -> Column:
    """P4 — ``expiry_date > anchor`` where the anchor depends on the window:

    * ``current`` → now                 (Δ = 0)
    * ``7days``   → now - 7 days        (Δ = 7d)
    * ``all``     → min(expiry) - 1 day (Δ = ∞; reference
                                         ServiceAlertBroadcaster.py:79-90/A2)

    Every non-null expiry exceeds min(expiry) - 1 day, so ``all`` is
    ``expiry IS NOT NULL`` with no anchor job.  When gold holds no expiry
    at all the reference's anchor is null and ``all`` keeps every row; that
    case needs the whole gold and is left to the caller.
    """
    if window == "current":
        return F.col(expiry_col) > F.lit(now)
    if window == "7days":
        return F.col(expiry_col) > F.lit(now) - F.expr("INTERVAL 7 DAYS")
    if window == "all":
        return F.col(expiry_col).isNotNull()
    raise ValueError(f"unknown window {window!r}")
