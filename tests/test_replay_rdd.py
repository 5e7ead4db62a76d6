"""Rate-limited replay source."""

from __future__ import annotations

import time

from tests.conftest import SF_SMOKE
from tf_idf_using_mapreduce_spark.streaming.replay import indexed_events, replay_events_stream


def test_indexed_events_cover_all_ticks(spark):
    idx = indexed_events(spark, SF_SMOKE, events_per_tick=100)
    rows = idx.groupBy("tick").count().orderBy("tick").collect()
    assert [r["tick"] for r in rows] == list(range(10))  # 1000 events / 100
    assert all(r["count"] == 100 for r in rows)


def test_indexed_events_rank_is_distributed(spark):
    """The replay index must rank within time bins (hash-partitioned
    window), never push the whole events table through one global-order
    window task — the textbook unpartitioned-window scale killer
    (round-6 fix; the only single-partition window left is over the
    O(bins) totals table)."""
    plan = (
        indexed_events(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning(_bin" in plan, plan[:3000]


def test_replay_stream_releases_events_gradually(spark):
    """Run the replay for a few seconds: events arrive, rate-bounded, with the
    original event schema intact."""
    stream = replay_events_stream(spark, SF_SMOKE, events_per_tick=50, ticks_per_second=5)
    q = (
        stream.writeStream.format("memory").queryName("replay_result")
        .outputMode("append").start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.table("replay_result").count()
            if n >= 100:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert n >= 100, n           # stream actually flowed
    assert n <= 1000             # never exceeds the table
    row = spark.table("replay_result").first()
    assert set(row.asDict()) == {"event_id", "ts", "user_id", "event_type", "value", "props"}
