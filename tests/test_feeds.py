"""Broadcaster fan-out tests (SURVEY P3-P5, §3.3) + JSON sink shape, asserted
on the files ``broadcast_feeds`` writes."""

from __future__ import annotations

import json
from datetime import datetime

from service_alerts_connector_spark.operators.feeds import all_feed_configs
from service_alerts_connector_spark.plans.broadcaster import broadcast_feeds
from service_alerts_connector_spark.schemas import V0_COLS, V1_2_COLS

NOW = datetime(2024, 2, 14, 12, 0, 0)

GOLD_ROWS = [
    # expired long ago
    {"Id": 1, "planned": True, "expiry_date": datetime(2024, 1, 1), "status": "Closed", "tweet_text": "old"},
    # expires within the last 7 days window
    {"Id": 2, "planned": False, "expiry_date": datetime(2024, 2, 10), "status": "Open", "tweet_text": None},
    # current (expiry in the future)
    {"Id": 3, "planned": False, "expiry_date": datetime(2024, 2, 20), "status": "Open", "tweet_text": "live"},
    {"Id": 4, "planned": True, "expiry_date": datetime(2024, 3, 1), "status": "Open", "tweet_text": "planned"},
]
SCHEMA = "Id long, planned boolean, expiry_date timestamp, status string, tweet_text string"


def _gold(spark, rows=GOLD_ROWS):
    return spark.createDataFrame(rows, SCHEMA)


def _feeds(spark, tmp_path, rows=GOLD_ROWS):
    """Broadcast ``rows`` and read every written feed back, by path."""
    out = tmp_path / "feeds"
    written = broadcast_feeds(_gold(spark, rows), str(out), now=NOW)
    feeds = {p: json.loads((out / p).read_text()) for p in written}
    assert written == {p: len(recs) for p, recs in feeds.items()}
    return feeds


def _ids(feeds, path):
    return sorted(r["Id"] for r in feeds[path])


def test_config_matrix_is_24():
    cfgs = all_feed_configs()
    assert len(cfgs) == 24
    assert len({c.path for c in cfgs}) == 24


def test_current_window(spark, tmp_path):
    feeds = _feeds(spark, tmp_path)
    assert _ids(feeds, "v0/service-alerts/current/unplanned.json") == [3]


def test_7days_window(spark, tmp_path):
    feeds = _feeds(spark, tmp_path)
    assert _ids(feeds, "v0/service-alerts/7days/unplanned.json") == [2, 3]


def test_all_window_includes_everything(spark, tmp_path):
    feeds = _feeds(spark, tmp_path)
    assert _ids(feeds, "v0/service-alerts/all/planned.json") == [1, 4]


def test_all_window_without_any_expiry_keeps_every_row(spark, tmp_path):
    """The reference's min(expiry) anchor is null when gold holds no
    expiry: the 'all' feeds then keep every row of their planned flag."""
    rows = [dict(r, expiry_date=None) for r in GOLD_ROWS]
    feeds = _feeds(spark, tmp_path, rows)
    assert _ids(feeds, "v0/service-alerts/all/planned.json") == [1, 4]
    assert _ids(feeds, "v0/service-alerts/all/unplanned.json") == [2, 3]
    assert feeds["v0/service-alerts/current/unplanned.json"] == []
    assert feeds["v0/service-alerts/7days/planned.json"] == []


def test_all_window_drops_null_expiry_among_expiries(spark, tmp_path):
    rows = GOLD_ROWS + [
        {"Id": 5, "planned": True, "expiry_date": None, "status": "Open", "tweet_text": None}
    ]
    feeds = _feeds(spark, tmp_path, rows)
    assert _ids(feeds, "v0/service-alerts/all/planned.json") == [1, 4]


def test_null_planned_row_is_in_no_feed(spark, tmp_path):
    rows = GOLD_ROWS + [
        {"Id": 6, "planned": None, "expiry_date": datetime(2024, 3, 1), "status": "Open", "tweet_text": None}
    ]
    feeds = _feeds(spark, tmp_path, rows)
    assert all(r["Id"] != 6 for recs in feeds.values() for r in recs)


def test_version_projection(spark, tmp_path):
    feeds = _feeds(spark, tmp_path)
    v0 = feeds["v0/service-alerts/current/unplanned.json"][0]
    v12 = feeds["v1.2/service-alerts/current/unplanned.json"][0]
    assert set(v0) <= set(V0_COLS)
    assert "tweet_text" not in v0
    assert v12["tweet_text"] == "live"
    assert set(v12) <= set(V1_2_COLS)


def test_broadcast_feeds_writes_24_files(spark, tmp_path):
    feeds = _feeds(spark, tmp_path)
    assert set(feeds) == {c.path for c in all_feed_configs()}
    assert all((tmp_path / "feeds" / p).is_file() for p in feeds)


def test_broadcast_feeds_is_one_pass(spark, tmp_path):
    """All 24 feeds come from one collect of a parquet-backed gold: at most
    2 Spark jobs, whatever the feed count (one plan per feed took 88)."""
    src = str(tmp_path / "gold")
    _gold(spark).write.parquet(src)
    gold = spark.read.parquet(src)
    sc = spark.sparkContext
    sc.setJobGroup("broadcast-feeds-one-pass", "feeds")
    try:
        written = broadcast_feeds(gold, str(tmp_path / "feeds"), now=NOW)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("broadcast-feeds-one-pass")
    assert len(written) == 24
    assert 1 <= len(jobs) <= 2


def test_api_sql_views(spark):
    from service_alerts_connector_spark.plans.serving import (
        register_api_views,
    )

    gold = _gold(spark)
    names = register_api_views(spark, gold)
    assert names == [
        "service_alerts_v0",
        "service_alerts_v1",
        "service_alerts_v1_1",
        "service_alerts_v1_2",
    ]
    out = spark.sql(
        "SELECT Id FROM service_alerts_v1_2 WHERE NOT planned ORDER BY Id"
    ).collect()
    assert [r["Id"] for r in out] == [2, 3]
    # v0 must not expose enrichment columns
    assert "tweet_text" not in spark.table("service_alerts_v0").columns


def test_json_records_shape(spark, tmp_path):
    feeds = _feeds(spark, tmp_path)
    payload = feeds["v1.2/service-alerts/current/unplanned.json"]
    assert isinstance(payload, list) and len(payload) == 1
    rec = payload[0]
    assert rec["Id"] == 3
    assert rec["expiry_date"].startswith("2024-02-20T00:00:00")
    # nulls are stripped, not serialized
    assert all(v is not None for v in rec.values())
    week = feeds["v1.2/service-alerts/7days/unplanned.json"]
    assert "tweet_text" not in next(r for r in week if r["Id"] == 2)
