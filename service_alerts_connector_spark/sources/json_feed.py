"""S8 — per-alert JSON object sink.

The reference's recon hop writes one JSON object per alert per API version
(alerts-recon.py:50-81).  The S7 feed arrays are rendered JVM-side by
plans/broadcaster.py.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame


def write_per_alert_objects(
    df: DataFrame,
    out_root: str,
    version_drops: dict[str, list[str]],
    id_col: str = "Id",
    status_col: str = "status",
) -> list[str]:
    """S8 — one JSON object per alert per API version prefix.

    ``version_drops`` maps version prefix → columns to drop for that version
    (reference alerts-recon.py:50-81 deep-copies and deletes fields; the
    engine projects).  Filenames are status-aware and deterministic —
    idempotent re-delivery (ST6).
    """
    written: list[str] = []
    rows = df.collect()  # CDC deltas are small by construction
    for version, drops in version_drops.items():
        keep = [c for c in df.columns if c not in drops]
        for row in rows:
            rec = {k: row[k] for k in keep if row[k] is not None}
            name = f"{row[id_col]}.{row[status_col]}.json"
            path = Path(out_root) / version / name
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(rec, default=str))
            written.append(str(path))
    return written
