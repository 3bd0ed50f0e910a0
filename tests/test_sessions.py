"""Gap-based sessionization vs hand-computed sessions."""

from __future__ import annotations

import datetime as dt

from xdan_dqa_spark.operators.sessions import sessionize


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, "view", 1.0)
         for i, (u, s) in enumerate(rows)],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )


def test_sessionize_hand_computed(spark):
    # user 1: events at 0s, 100s, 2000s (gap>1800 → new session), 2100s
    # user 2: single event
    df = _events(spark, [(1, 0), (1, 100), (1, 2000), (1, 2100), (2, 50)])
    got = {(r["user_id"], r["session_seq"]): (r["n_events"], r["duration_sec"])
           for r in sessionize(df, gap_sec=1800).collect()}
    assert got == {
        (1, 1): (2, 100.0),
        (1, 2): (2, 100.0),
        (2, 1): (1, 0.0),
    }


def test_sessionize_boundary_gap_not_new(spark):
    # exactly gap_sec apart → SAME session (strict > breaks)
    df = _events(spark, [(1, 0), (1, 1800)])
    rows = sessionize(df, gap_sec=1800).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 2


def test_sessionize_partitioning_invariant_and_cap(spark):
    df = _events(spark, [(u, s * 60) for u in range(5) for s in range(40)])
    a = sorted(map(tuple, sessionize(df).collect()))
    b = sorted(map(tuple, sessionize(df.repartition(11)).collect()))
    assert a == b
    capped = sessionize(df, max_events_per_user=10)
    assert capped.agg({"n_events": "sum"}).collect()[0][0] == 5 * 10


# ----------------------------------------------------------------- funnel

def _typed_events(spark, rows):
    """rows: (user, sec, type)"""
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, t, 1.0)
         for i, (u, s, t) in enumerate(rows)],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )


def test_funnel_hand_computed(spark):
    from xdan_dqa_spark.operators.sessions import funnel_conversion

    df = _typed_events(spark, [
        # user 1: click@10 → purchase@70 (converted, 60s delay); an earlier
        # purchase@5 must NOT count (before the first click)
        (1, 5, "purchase"), (1, 10, "click"), (1, 70, "purchase"),
        # user 2: click, never purchases
        (2, 0, "click"), (2, 50, "view"),
        # user 3: purchase only, never clicks → not converted, no first_a
        (3, 30, "purchase"),
        # user 4: purchase at the SAME instant as the click → counts (>=)
        (4, 100, "click"), (4, 100, "purchase"),
    ])
    got = {r["user_id"]: (r["first_a_us"], r["first_b_after_us"],
                          r["converted"], r["delay_sec"])
           for r in funnel_conversion(df).collect()}
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert got[1] == (base + 10_000_000, base + 70_000_000, 1, 60.0)
    assert got[2] == (base, -1, 0, 0.0)
    assert got[3] == (-1, -1, 0, 0.0)
    assert got[4] == (base + 100_000_000, base + 100_000_000, 1, 0.0)


def test_funnel_same_instant_tiebreak_deterministic(spark):
    """Click and purchase share a timestamp; the running-min carry orders
    by (ts, event_id), so the purchase sees the click regardless of
    partitioning — repartition must not change the answer."""
    from xdan_dqa_spark.operators.sessions import funnel_conversion

    df = _typed_events(spark, [(1, 100, "click"), (1, 100, "purchase")])
    a = sorted(map(tuple, funnel_conversion(df).collect()))
    b = sorted(map(tuple, funnel_conversion(df.repartition(7)).collect()))
    assert a == b and a[0][3] == 1


# ------------------------------------------------------------- retention

def test_cohort_retention_hand_computed(spark):
    from xdan_dqa_spark.operators.sessions import cohort_retention

    week = 604800  # seconds
    df = _events(spark, [
        # user 1: active in weeks w, w+1, w+3 (relative to epoch-week grid)
        (1, 0), (1, 10), (1, week + 5), (1, 3 * week + 1),
        # user 2: same cohort week, returns week +1 only
        (2, 20), (2, week + 50),
        # user 3: cohort one week later, never returns
        (3, week + 100),
    ])
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) // week
    got = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in cohort_retention(df).collect()}
    assert got == {
        (base, 0): 2, (base, 1): 2, (base, 3): 1,
        (base + 1, 0): 1,
    }


def test_cohort_retention_partitioning_invariant(spark):
    from xdan_dqa_spark.operators.sessions import cohort_retention

    df = _events(spark, [(u, (u * 37 + k * 99_999) % (30 * 86400))
                         for u in range(1, 30) for k in range(5)])
    a = sorted(map(tuple, cohort_retention(df).collect()))
    b = sorted(map(tuple, cohort_retention(df.repartition(11)).collect()))
    assert a == b


def test_burst_users_rolling_window_no_seams(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import burst_users

    base = dt.datetime(2025, 3, 1, 23, 59, 0)

    def ev(uid, offsets_sec):
        return [(uid, base + dt.timedelta(seconds=s)) for s in offsets_sec]

    rows = (
        # burster: 5 events inside 90 s, straddling midnight — a
        # calendar-day count would see 2+3 and miss it.
        ev(1, [0, 30, 60, 80, 90])
        # slow user: 5 events spread over 5 hours, never 3 in a minute
        + ev(2, [0, 3600, 7200, 10800, 14400])
    )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["user_id"]: r for r in
           burst_users(df, window_sec=60, min_events=4).collect()}
    assert set(out) == {1}
    assert out[1]["max_burst"] == 4          # events at 30..90 share a 60 s frame
    assert out[1]["n_events"] == 5
