"""Gap-based sessionization: exact boundary semantics (strictly
greater than the gap starts a new session; equal-to-gap continues),
deterministic tie-breaks, per-session aggregates."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from rindex_spark.operators.sessions import session_stats, sessionize

from tests.conftest import count_jobs

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(eid, uid, sec):
    return (eid, uid, T0 + dt.timedelta(seconds=sec))


def test_sessionize_boundaries_and_ties(spark):
    rows = [
        _ev(0, 1, 0.0),
        _ev(1, 1, 10.0),     # same session (gap 10 <= 30)
        _ev(2, 1, 40.0),     # gap exactly 30 -> SAME session
        _ev(3, 1, 70.5),     # gap 30.5 > 30 -> new session
        _ev(4, 1, 70.5),     # tie on ts: ordered by event_id, gap 0
        _ev(5, 2, 0.0),      # other user: own numbering
        _ev(6, 2, 100.0),    # gap 100 > 30 -> session 2
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(ev, gap_sec=30.0).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 1, 6: 2}


def test_session_stats_aggregates(spark):
    rows = [
        _ev(0, 7, 0.0),
        _ev(1, 7, 20.0),
        _ev(2, 7, 1000.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    ).withColumn("value", F.col("event_id") * 2.0)
    out = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_sec"], r["sum_value"])
        for r in session_stats(ev, gap_sec=30.0, value_col="value").collect()
    }
    assert out[(7, 1)] == (2, 20.0, 2.0)
    assert out[(7, 2)] == (1, 0.0, 4.0)


def test_asof_join_semantics(spark):
    """Inclusive vs strict boundary, no-prior-match nulls, and the
    deterministic tie-break among equal-timestamp right rows."""
    from rindex_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [
            (0, 1, T0 + dt.timedelta(seconds=10)),
            (1, 1, T0 + dt.timedelta(seconds=20)),   # exactly at r=20
            (2, 1, T0 + dt.timedelta(seconds=5)),    # before any right
            (3, 2, T0 + dt.timedelta(seconds=50)),   # other key
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 1, T0 + dt.timedelta(seconds=8), 1.0),
            (101, 1, T0 + dt.timedelta(seconds=20), 2.0),
            (102, 1, T0 + dt.timedelta(seconds=20), 3.0),  # ts tie: larger id wins
            (103, 2, T0 + dt.timedelta(seconds=49), 4.0),
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    inc = {
        r["event_id"]: (r["r_event_id"], r["r_value"])
        for r in asof_join(
            left, right, ["user_id"], "ts",
            right_cols=["event_id", "value"], right_id_col="event_id",
        ).collect()
    }
    assert inc[0] == (100, 1.0)
    assert inc[1] == (102, 3.0)   # inclusive: equal-ts rows match, id 102 wins
    assert inc[2] == (None, None)
    assert inc[3] == (103, 4.0)

    st = {
        r["event_id"]: r["r_event_id"]
        for r in asof_join(
            left, right, ["user_id"], "ts",
            right_cols=["event_id", "value"], right_id_col="event_id",
            strict=True,
        ).collect()
    }
    assert st[1] == 100  # strict: the equal-ts right rows do NOT match


def test_interval_join_semantics_and_guard(spark):
    """Inclusive boundaries on both ends, events outside match nothing,
    and a pathologically long interval takes the broadcast guard path
    while producing the identical result."""
    from rindex_spark.operators.temporal import interval_join

    ev = spark.createDataFrame(
        [(i, T0 + dt.timedelta(seconds=s)) for i, s in
         [(0, 0.0), (1, 10.0), (2, 20.0), (3, 30.5), (4, 1000.0)]],
        "event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (100, T0 + dt.timedelta(seconds=10), T0 + dt.timedelta(seconds=30)),
            (101, T0 + dt.timedelta(seconds=25), T0 + dt.timedelta(seconds=40)),
        ],
        "iid long, t_start timestamp, t_end timestamp",
    )
    got = {
        (r["iid"], r["event_id"])
        for r in interval_join(ev, iv, bucket_width_sec=7.0).collect()
    }
    # 100 covers ts 10 (start inclusive) and 20; NOT 30.5 (> end 30)
    # 101 covers 30.5 only
    assert got == {(100, 1), (100, 2), (101, 3)}

    # guard: a huge interval with a tiny bucket width exceeds the
    # per-interval bucket cap -> broadcast branch, same answer
    iv_big = spark.createDataFrame(
        [(200, T0, T0 + dt.timedelta(days=365))],
        "iid long, t_start timestamp, t_end timestamp",
    )
    got_big = {
        (r["iid"], r["event_id"])
        for r in interval_join(
            ev, iv_big, bucket_width_sec=1.0, max_buckets_per_interval=100
        ).collect()
    }
    assert got_big == {(200, i) for i in range(5)}


def test_asof_join_null_right_value_comes_from_matching_row(spark):
    """r4 advisor (medium): a genuinely-NULL right value column on the
    as-of matching row must surface as NULL — the struct carry
    guarantees all r_* columns come from the SAME right row, never a
    null-skipping backfill from an older one."""
    from rindex_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(0, 1, T0 + dt.timedelta(seconds=30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 1, T0 + dt.timedelta(seconds=10), 7.0),
            (101, 1, T0 + dt.timedelta(seconds=20), None),  # the match
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    row = asof_join(
        left, right, ["user_id"], "ts",
        right_cols=["event_id", "value"], right_id_col="event_id",
    ).collect()[0]
    assert row["r_event_id"] == 101
    assert row["r_value"] is None  # NOT 7.0 carried from row 100


def test_interval_join_explicit_width_no_driver_jobs(spark):
    """r4 verdict item 2: with bucket_width_sec passed explicitly,
    constructing the interval_join plan must launch ZERO driver jobs
    (the default-width path pays a per-call mean-span aggregate)."""
    from rindex_spark.operators.temporal import interval_join

    ev = spark.createDataFrame(
        [(i, T0 + dt.timedelta(seconds=float(i))) for i in range(50)],
        "event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (100, T0 + dt.timedelta(seconds=5), T0 + dt.timedelta(seconds=15)),
            (101, T0 + dt.timedelta(seconds=30), T0 + dt.timedelta(seconds=45)),
        ],
        "iid long, t_start timestamp, t_end timestamp",
    )
    res, jobs = count_jobs(spark, lambda: interval_join(ev, iv, bucket_width_sec=10.0))
    assert not jobs, "explicit-width path must not launch driver jobs"
    got = {(r["iid"], r["event_id"]) for r in res.collect()}
    want = {(100, i) for i in range(5, 16)} | {(101, i) for i in range(30, 46)}
    assert got == want
