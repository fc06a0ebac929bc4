"""Event-time windows and similarity search tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from bigdata_spark.similarity.ann import brute_force_topk
from bigdata_spark.streaming.windows import session_windows, sliding_window_agg, tumbling_window_agg


def _events(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1, 1.0),
        (2, t0 + dt.timedelta(minutes=5), 1, 2.0),
        (3, t0 + dt.timedelta(minutes=40), 1, 3.0),   # same hour, new session
        (4, t0 + dt.timedelta(minutes=70), 2, 4.0),   # next hour
    ]
    return spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")


def test_tumbling_window(spark):
    out = tumbling_window_agg(
        _events(spark), "ts", "1 hour", ["user_id"], [F.count("*").alias("n")]
    ).collect()
    got = {(r["window_start"].minute, r["user_id"]): r["n"] for r in out}
    assert got[(0, 1)] == 3
    assert got[(0, 2)] == 1
    assert len(out) == 2


def test_sliding_window_double_assignment(spark):
    out = sliding_window_agg(
        _events(spark), "ts", "1 hour", "30 minutes", ["user_id"], [F.count("*").alias("n")]
    )
    # each event appears in exactly 2 windows
    assert out.agg(F.sum("n")).first()[0] == 8


def test_session_window_gap(spark):
    out = session_windows(
        _events(spark), "ts", "10 minutes", ["user_id"], [F.count("*").alias("n")]
    ).orderBy("session_start").collect()
    # user 1: events 1,2 in one session; 3 alone; user 2: one session
    assert [(r["user_id"], r["n"]) for r in out] == [(1, 2), (1, 1), (2, 1)]
    # session_end = last event + gap
    assert out[0]["session_end"] - out[0]["session_start"] == dt.timedelta(minutes=15)


def test_brute_force_topk_exact(spark):
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = brute_force_topk(df.filter(F.col("vec_id") == 0), df, k=2).collect()
    assert [r["corpus_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]
