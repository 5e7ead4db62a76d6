"""Sessionization/as-of oracle parity + UDTF surface tests."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, assert_query_matches_oracle


@pytest.mark.parametrize("name", ["sessionize_events", "asof_purchase_prior_click",
                                  "orders_with_returns_exists",
                                  "customers_above_avg_balance",
                                  "parts_never_ordered", "user_event_pivot"])
def test_oracle_parity(spark, name):
    assert_query_matches_oracle(spark, name)


def test_sessions_are_gap_separated(spark):
    from tf_idf_using_mapreduce_spark.operators.sessions import sessionize_events

    rows = sessionize_events(spark, SF_SMOKE).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_id"], r["session_start"], r["session_end"]))
    for user, sess in by_user.items():
        sess.sort()
        for (_, _, end_a), (_, start_b, _) in zip(sess, sess[1:]):
            assert start_b > end_a, (user, end_a, start_b)  # disjoint, ordered


def test_udtf_lateral_join(spark):
    from tf_idf_using_mapreduce_spark.functions.udtf_demo import sentence_split_udtf

    SentenceSplit = sentence_split_udtf()
    spark.udtf.register("sentence_split", SentenceSplit)
    df = spark.createDataFrame(
        [(1, "the fast query. a slow scan runs. done."), (2, None)],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT doc_id, s.* FROM udtf_docs, LATERAL sentence_split(text) s"
    ).collect()
    got = [(r["doc_id"], r["sentence_idx"], r["n_words"]) for r in rows]
    assert got == [(1, 0, 3), (1, 1, 4), (1, 2, 1)]


# --------------------------------------------------------------------------- #
# round-5: funnel conversion + retention cohorts
# --------------------------------------------------------------------------- #

def test_user_funnel_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "user_funnel")


def test_user_funnel_is_monotone_and_order_strict(spark):
    """Stage counts must shrink down the funnel, and a purchase BEFORE the
    first view must not convert (the ordering is the whole point)."""
    import datetime as dt
    from tf_idf_using_mapreduce_spark.operators import sessions as ss
    from tests.conftest import SF_SMOKE
    import tempfile

    by_stage = {r["stage"]: r["n_users"] for r in ss.user_funnel(spark, SF_SMOKE).collect()}
    assert by_stage["view"] >= by_stage["view>click"] >= by_stage["view>click>purchase"] > 0

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: proper order -> converts fully
        (1, t0, "view"), (1, t0 + dt.timedelta(minutes=1), "click"),
        (1, t0 + dt.timedelta(minutes=2), "purchase"),
        # user 2: purchase first -> stops at view
        (2, t0, "purchase"), (2, t0 + dt.timedelta(minutes=1), "view"),
        # user 3: click before view -> stops at view
        (3, t0, "click"), (3, t0 + dt.timedelta(minutes=1), "view"),
    ]
    df = spark.createDataFrame(
        [(i, u, t, e, 0.0, "{}") for i, (u, t, e) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        got = {r["stage"]: r["n_users"] for r in ss.user_funnel(spark, d).collect()}
    assert got == {"view": 3, "view>click": 1, "view>click>purchase": 1}


def test_user_funnel_emits_all_stages_on_empty_stage(spark):
    """A corpus with NO purchases (or no post-view clicks) must still emit
    one row per stage with n_users = 0 — matching the oracle's plain
    ``SELECT 'stage', count(*)`` shape, which never drops rows. A
    ``groupBy(lit)`` would emit zero rows on an empty stage and fail the
    parity gate's row-count assert (round-6 advisor finding)."""
    import datetime as dt
    import tempfile
    from tf_idf_using_mapreduce_spark.operators import sessions as ss

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0, "view"), (2, t0, "view")]  # views only: no clicks, no purchases
    df = spark.createDataFrame(
        [(i, u, t, e, 0.0, "{}") for i, (u, t, e) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        got = {r["stage"]: r["n_users"] for r in ss.user_funnel(spark, d).collect()}
    assert got == {"view": 2, "view>click": 0, "view>click>purchase": 0}


def test_user_retention_cohorts_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "user_retention_cohorts")


def test_sessionize_scalable_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "sessionize_events_scalable")


def test_sessionize_scalable_equals_plain(spark):
    """The two-phase form must be row-identical to the textbook per-user
    window form on the fixture — same ids, counts, bounds."""
    from tf_idf_using_mapreduce_spark.operators.sessions import (
        sessionize_events,
        sessionize_events_scalable,
    )

    plain = sorted(map(tuple, sessionize_events(spark, SF_SMOKE).collect()))
    two_phase = sorted(map(tuple, sessionize_events_scalable(spark, SF_SMOKE).collect()))
    assert two_phase == plain and plain


def test_sessionize_scalable_stitches_across_bins(spark):
    """A session of 20-minute-spaced events spanning three calendar days
    must stitch back into ONE session (merge chains across bins), and a
    >30-min silence at midnight must still split."""
    import datetime as dt
    import tempfile
    from tf_idf_using_mapreduce_spark.operators import sessions as ss

    rows = []
    eid = 0
    # user 1: one long session crossing two midnights (20-min cadence)
    t = dt.datetime(2024, 5, 1, 23, 0)
    for _ in range(160):  # ~53 h of continuous 20-min-spaced events
        rows.append((eid, t, 1, "view", 0.0, "{}")); eid += 1
        t += dt.timedelta(minutes=20)
    # user 2: 23:50 then 00:40 next day — 50-min silence across midnight splits
    rows.append((eid, dt.datetime(2024, 5, 1, 23, 50), 2, "view", 0.0, "{}")); eid += 1
    rows.append((eid, dt.datetime(2024, 5, 2, 0, 40), 2, "view", 0.0, "{}")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        got = ss.sessionize_events_scalable(spark, d).collect()
        plain = sorted(map(tuple, ss.sessionize_events(spark, d).collect()))
    by_user: dict = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 1 and by_user[1][0]["n_events"] == 160
    assert len(by_user[2]) == 2
    assert sorted(map(tuple, got)) == plain


def test_sessionize_scalable_heavy_window_is_binned(spark):
    """The event-sized window must partition on (user, day-bin), never on
    user alone — the hot-key defusal the operator exists for."""
    from tf_idf_using_mapreduce_spark.operators.sessions import sessionize_events_scalable

    import re

    plan = (
        sessionize_events_scalable(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # both event-level windows (lag + running sum) must be specified over
    # (user_id, bin); only the summary-level stitch may key on user alone
    assert len(re.findall(r"windowspecdefinition\(user_id#\d+L, bin#", plan)) >= 2, plan[:3000]


def test_asof_scalable_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "asof_purchase_prior_click_scalable")


def test_asof_scalable_equals_plain_and_crosses_bins(spark):
    """Row-identical to the plain carry-forward form on the fixture, and
    the carry-in path really works: a purchase whose latest click sits
    days earlier (across several empty bins) still finds it, a same-ts
    click ties inclusively, and a click-free user yields NULL."""
    import datetime as dt
    import tempfile
    from tf_idf_using_mapreduce_spark.operators import sessions as ss

    plain = sorted(map(tuple, ss.asof_purchase_prior_click(spark, SF_SMOKE).collect()))
    scalable = sorted(
        map(tuple, ss.asof_purchase_prior_click_scalable(spark, SF_SMOKE).collect())
    )
    assert scalable == plain and plain

    t0 = dt.datetime(2024, 7, 1, 12, 0)
    rows = [
        (1, t0, 1, "click", 0.0, "{}"),
        # purchase 4 days later: carry-in must cross three click-free bins
        (2, t0 + dt.timedelta(days=4), 1, "purchase", 0.0, "{}"),
        # user 2: click at the exact purchase ts (inclusive tie)
        (3, t0, 2, "click", 0.0, "{}"),
        (4, t0, 2, "purchase", 0.0, "{}"),
        # user 3: purchase with no click ever
        (5, t0, 3, "purchase", 0.0, "{}"),
        # user 4: later click must NOT attach to an earlier purchase
        (6, t0 + dt.timedelta(days=1), 4, "purchase", 0.0, "{}"),
        (7, t0 + dt.timedelta(days=2), 4, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        got = {r["purchase_id"]: r["click_id"]
               for r in ss.asof_purchase_prior_click_scalable(spark, d).collect()}
    assert got == {2: 1, 4: 3, 5: None, 6: None}


def test_events_hourly_anomalies_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "events_hourly_anomalies")


def test_events_hourly_anomalies_flags_injected_spike(spark):
    """A gently-cycling 9/10/11-events/hour series with one 100-event hour
    must flag exactly that hour (z ≈ 100 sigmas); the cycle keeps the
    baseline variance nonzero (a perfectly flat baseline is degenerate —
    var = 0 rows are excluded by contract) while its own |z| stays ≈ 1.2,
    and post-spike hours stay small because the spike inflates their
    baseline sigma."""
    import datetime as dt
    import tempfile
    from tf_idf_using_mapreduce_spark.operators import sessions as ss

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(60):
        burst = 100 if h == 50 else 9 + h % 3
        for k in range(burst):
            rows.append((eid, t0 + dt.timedelta(hours=h, seconds=k), 1, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        got = ss.events_hourly_anomalies(spark, d).collect()
    assert [r["hour"] for r in got] == ["2024-01-03 02:00"]  # t0 + 50h
    assert got[0]["n"] == 100 and got[0]["z"] > 10


def test_user_retention_week_zero_covers_every_user(spark):
    """Every user is active in their own cohort week, so the offset-0 rows
    must together count every distinct user exactly once."""
    from tf_idf_using_mapreduce_spark.operators import sessions as ss
    from tf_idf_using_mapreduce_spark.sources.corpus import load_table
    from tests.conftest import SF_SMOKE

    rows = ss.user_retention_cohorts(spark, SF_SMOKE).collect()
    assert all(r["week_offset"] >= 0 for r in rows)
    zero = sum(r["n_users"] for r in rows if r["week_offset"] == 0)
    total_users = load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    assert zero == total_users
