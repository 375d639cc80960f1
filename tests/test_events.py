"""Event-table operators (q36/q37/q52): sliding and session windows and
the per-user time-range pair join."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from pride_spark.operators.events import correlate_event_pairs, session_counts, sliding_counts


def _events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000)


def test_sliding_windows_count_each_event_twice(spark):
    src = _events(spark)
    # every event appears in size/slide = 2 windows
    n = sliding_counts(src).agg(F.sum("n")).first()[0]
    assert n == 2 * src.count()


def test_session_windows_gap_semantics(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7),
        (2, t0 + datetime.timedelta(minutes=10), 7),   # same session (gap 30m)
        (3, t0 + datetime.timedelta(minutes=90), 7),   # new session
        (4, t0, 8),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = session_counts(df, gap="30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["n"])
    assert sorted(by_user[7]) == [1, 2]
    assert by_user[8] == [1]


def test_event_pair_join_range_bound(spark):
    src = _events(spark)
    out = correlate_event_pairs(src, src, within="30 minutes")
    assert out.count() > 0
    bad = out.filter((F.col("latency_us") < 0) | (F.col("latency_us") > 30 * 60 * 1_000_000))
    assert bad.count() == 0
