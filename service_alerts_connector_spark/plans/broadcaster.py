"""The Broadcaster — gold → 24 versioned JSON feeds (SURVEY §3.3, S7).

One projection of gold, collected once; the driver assigns its rows to the
24 JSON array payloads.  The recon CDC hop consumes the same gold snapshot
(plans/recon.py).
"""

from __future__ import annotations

from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.operators.feeds import (
    WINDOWS,
    FeedConfig,
    all_feed_configs,
    time_window_predicate,
)
from service_alerts_connector_spark.schemas import API_VERSION_COLS

# the reference's ``to_json(orient='records', date_format='iso')`` contract
# (ServiceAlertBroadcaster.py:100-114); to_json also drops null keys
_JSON_OPTIONS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS"}


def broadcast_feeds(
    gold: DataFrame,
    out_root: str,
    now: datetime | None = None,
    configs: list[FeedConfig] | None = None,
) -> dict[str, int]:
    """Write every feed; returns {feed path: row count} for observability.

    Gold is projected to (planned, one flag per window, one JSON rendering
    per API version) and collected once — one Spark job for the whole
    fan-out.  The ``all`` feeds hold every row with an expiry anyway, so
    the driver holds what writing them takes.  A row with a null
    ``planned`` flag is in no feed (P5 is an equality).
    """
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)
    configs = configs or all_feed_configs()
    versions = list(dict.fromkeys(c.version for c in configs))
    rows = gold.select(
        "planned",
        *(time_window_predicate(w, now) for w in WINDOWS),
        *(
            F.to_json(
                F.struct(*[c for c in API_VERSION_COLS[v] if c in gold.columns]),
                _JSON_OPTIONS,
            )
            for v in versions
        ),
    ).collect()
    # gold without any expiry: the 'all' anchor is null and keeps every row
    all_idx = 1 + WINDOWS.index("all")
    keep_all = not any(r[all_idx] for r in rows)
    written: dict[str, int] = {}
    for cfg in configs:
        w = 1 + WINDOWS.index(cfg.window)
        j = 1 + len(WINDOWS) + versions.index(cfg.version)
        feed = [
            r[j]
            for r in rows
            if r[0] == cfg.planned and (r[w] or (keep_all and w == all_idx))
        ]
        path = Path(out_root) / cfg.path
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("[" + ",".join(feed) + "]")
        written[cfg.path] = len(feed)
    return written
