"""asof_join / sessionize vs independent twins.

The as-of twin is pandas.merge_asof — a mature range-semantics
implementation sharing no code with the union+running-window plan
under test. Sessionization is pinned against a hand-walked per-user
loop. (The DuckDB contract oracles in ds2_spark/queries_catalog/ add
a third independent engine at sf0.01.)
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from ds2_spark.operators.timeseries import asof_join, session_stats, sessionize

EPOCH = dt.datetime(2024, 1, 1)


def _ts(sec: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=sec)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def asof_data(spark):
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 6, size=200)
    lts = np.sort(rng.uniform(0, 1000, size=200))
    left = [
        (int(k), _ts(float(t)), i) for i, (k, t) in enumerate(zip(keys, lts))
    ]
    rkeys = rng.integers(0, 6, size=80)
    rts = np.sort(rng.uniform(-50, 950, size=80))
    right = [
        (int(k), _ts(float(t)), float(np.round(rng.normal(), 4)))
        for k, t in zip(rkeys, rts)
    ]
    l = _mk(spark, left, "user_id long, ts timestamp, event_id long")
    r = _mk(spark, right, "user_id long, ts timestamp, value double")
    return left, right, l, r


def _pandas_asof(left, right, tolerance=None):
    lp = pd.DataFrame(left, columns=["user_id", "ts", "event_id"])
    rp = pd.DataFrame(right, columns=["user_id", "ts", "value"])
    rp = rp.rename(columns={"ts": "ts_r", "value": "value_r"})
    out = pd.merge_asof(
        lp.sort_values("ts"),
        rp.sort_values("ts_r"),
        left_on="ts",
        right_on="ts_r",
        left_by="user_id",
        right_by="user_id",
        direction="backward",
        tolerance=tolerance,
    )
    return out.sort_values("event_id")


def test_asof_matches_pandas_merge_asof(spark, asof_data):
    left, right, l, r = asof_data
    got = {
        row["event_id"]: (row["ts_r"], row["value_r"])
        for row in asof_join(l, r, on="user_id", values=["value"]).collect()
    }
    want = _pandas_asof(left, right)
    assert len(got) == len(left)
    for _, w in want.iterrows():
        g_ts, g_v = got[w["event_id"]]
        if pd.isna(w["value_r"]):
            assert g_v is None and g_ts is None
        else:
            assert g_ts == w["ts_r"].to_pydatetime()
            assert g_v == w["value_r"]


def test_asof_tolerance(spark, asof_data):
    left, right, l, r = asof_data
    tol_s = 30.0
    got = {
        row["event_id"]: (row["ts_r"], row["value_r"])
        for row in asof_join(
            l, r, on="user_id", values=["value"],
            tolerance_us=int(tol_s * 1e6),
        ).collect()
    }
    want = _pandas_asof(left, right, tolerance=pd.Timedelta(seconds=tol_s))
    for _, w in want.iterrows():
        g_ts, g_v = got[w["event_id"]]
        if pd.isna(w["value_r"]):
            assert g_v is None and g_ts is None
        else:
            assert g_ts == w["ts_r"].to_pydatetime()
            assert g_v == w["value_r"]


def test_asof_inclusive_tie_and_no_match(spark):
    l = _mk(
        spark,
        [(1, _ts(10.0), 0), (1, _ts(5.0), 1), (2, _ts(10.0), 2)],
        "user_id long, ts timestamp, event_id long",
    )
    r = _mk(
        spark,
        [(1, _ts(10.0), 7.0), (1, _ts(0.0), 3.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        row["event_id"]: row["value_r"]
        for row in asof_join(l, r, on="user_id", values=["value"]).collect()
    }
    assert got[0] == 7.0  # equal ts matches (inclusive backward)
    assert got[1] == 3.0
    assert got[2] is None  # key with no readings


def _naive_sessions(rows, gap_s):
    """Hand-walked per-user session assignment."""
    out = {}
    by_user: dict = {}
    for uid, ts, eid in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for ts, eid in evs:
            if prev is None or (ts - prev).total_seconds() > gap_s:
                sid += 1
            out[eid] = (uid, sid)
            prev = ts
    return out


def test_sessionize_matches_naive(spark):
    rng = np.random.default_rng(3)
    rows, t = [], 0.0
    for i in range(300):
        t += float(rng.exponential(900))  # mean 15 min => many gap crossings
        rows.append((int(rng.integers(0, 5)), _ts(t), i))
    df = _mk(spark, rows, "user_id long, ts timestamp, event_id long")
    got = {
        r["event_id"]: (r["user_id"], r["session_id"])
        for r in sessionize(df, gap_us=30 * 60 * 1_000_000,
                            tiebreak="event_id").collect()
    }
    assert got == _naive_sessions(rows, 30 * 60)


def test_sessionize_gap_boundary_inclusive(spark):
    """An event exactly gap seconds after the previous one continues
    the session; one microsecond past starts a new one."""
    gap_us = 60 * 1_000_000
    rows = [
        (1, _ts(0.0), 0),
        (1, _ts(60.0), 1),          # exactly at gap -> same session
        (1, _ts(120.000001), 2),    # 1 us past -> new session
    ]
    df = _mk(spark, rows, "user_id long, ts timestamp, event_id long")
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(df, gap_us=gap_us, tiebreak="event_id").collect()
    }
    assert (got[0], got[1], got[2]) == (1, 1, 2)


def test_session_stats_consistency(spark):
    rng = np.random.default_rng(5)
    rows, t = [], 0.0
    for i in range(200):
        t += float(rng.exponential(1200))
        rows.append((int(rng.integers(0, 4)), _ts(t), i))
    df = _mk(spark, rows, "user_id long, ts timestamp, event_id long")
    stats = session_stats(df, tiebreak="event_id").collect()
    naive = _naive_sessions(rows, 30 * 60)
    from collections import Counter

    want_counts = Counter(naive.values())
    got_counts = {(r["user_id"], r["session_id"]): r["n_events"] for r in stats}
    assert got_counts == dict(want_counts)
    for r in stats:
        assert r["span_us"] == r["end_us"] - r["start_us"] >= 0


def test_rolling_zscore_hand_series(spark):
    """z-scores vs an independent NumPy recomputation on a hand-built
    series; min-points gating, zero-variance gating, same-timestamp
    peer exclusion, and the anomaly flag."""
    from ds2_spark.operators.timeseries import rolling_zscore

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    vals = [10.0, 12.0, 10.0, 12.0, 10.0, 12.0, 30.0]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "a", v, "{}")
        for i, v in enumerate(vals)
    ]
    # second key with too little history: all z = 0
    rows += [
        (100 + i, t0 + dt.timedelta(minutes=i), 1, "b", 5.0, "{}")
        for i in range(3)
    ]
    # tie pair on key 'c': same microsecond, peers exclude each other
    rows += [
        (200, t0, 1, "c", 1.0, "{}"),
        (201, t0, 1, "c", 2.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["event_id"]: r for r in rolling_zscore(ev).collect()}

    cents = [round(v * 100) for v in vals]
    for i in range(7):
        r = out[i]
        assert r["n_window"] == i
        hist = np.array(cents[:i], dtype=np.float64)
        if i < 5 or hist.var() <= 1e-9:
            exp = 0.0
        else:
            exp = round((cents[i] - hist.mean()) / hist.std(), 6)
        assert r["z"] == exp, (i, r["z"], exp)
        assert r["anomaly"] == int(abs(exp) > 3.0)
    assert out[6]["anomaly"] == 1  # the 30.0 outlier fires
    assert sum(out[i]["anomaly"] for i in range(6)) == 0

    for i in range(3):
        assert out[100 + i]["z"] == 0.0 and out[100 + i]["anomaly"] == 0
    assert out[200]["n_window"] == 0 and out[201]["n_window"] == 0


def test_funnel_hand_series(spark):
    """Funnel semantics on constructed users: full completion, wrong
    order, missing middle step, horizon cutoff, greedy earliest."""
    from ds2_spark.operators.timeseries import funnel

    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        # u1: clean view(0) -> click(5) -> purchase(9)
        (1, m(0), 1, "view", 0.0, "{}"),
        (2, m(5), 1, "click", 0.0, "{}"),
        (3, m(9), 1, "purchase", 0.0, "{}"),
        # u2: click BEFORE view -> stuck at step 1
        (4, m(10), 2, "click", 0.0, "{}"),
        (5, m(20), 2, "view", 0.0, "{}"),
        # u3: view + purchase but no click -> purchase must NOT count
        (6, m(0), 3, "view", 0.0, "{}"),
        (7, m(5), 3, "purchase", 0.0, "{}"),
        # u4: click outside the horizon
        (8, m(0), 4, "view", 0.0, "{}"),
        (9, m(90), 4, "click", 0.0, "{}"),
        # u5: two views; funnel anchors on the EARLIEST view, and the
        # click between the views still counts
        (10, m(0), 5, "view", 0.0, "{}"),
        (11, m(3), 5, "click", 0.0, "{}"),
        (12, m(6), 5, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    out = {
        r["user_id"]: r
        for r in funnel(
            ev, ["view", "click", "purchase"], horizon_us=60 * 60 * 1_000_000
        ).collect()
    }
    us = lambda k: int(m(k).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)  # noqa: E731
    assert (out[1]["t_1"], out[1]["t_2"], out[1]["t_3"], out[1]["completed"]) == (
        us(0), us(5), us(9), 3,
    )
    assert out[2]["completed"] == 1 and out[2]["t_2"] is None
    assert out[3]["completed"] == 1 and out[3]["t_3"] is None
    assert out[4]["completed"] == 1  # click at +90min > 60min horizon
    assert (out[5]["t_1"], out[5]["t_2"], out[5]["completed"]) == (us(0), us(3), 2)


def test_funnel_arrays_matches_kpass(spark):
    """funnel_arrays (sort-once, one shuffle) must reproduce funnel's
    (k keyed passes) output EXACTLY — same greedy earliest-per-step,
    strict ordering, horizon, and missing-step NULL semantics — on
    both the hand-constructed edge cases and a seeded random series,
    with and without a horizon."""
    import numpy as np

    from ds2_spark.operators.timeseries import funnel, funnel_arrays

    rng = np.random.default_rng(7)
    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    types = ["view", "click", "purchase", "signup", "error"]
    rows = []
    for eid in range(600):
        u = int(rng.integers(1, 40))
        ty = types[int(rng.integers(0, len(types)))]
        ts = t0 + dt.timedelta(seconds=int(rng.integers(0, 72 * 3600)))
        rows.append((eid, ts, u, ty, 0.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    for steps, hor in (
        (["view", "click", "purchase"], 24 * 3600 * 1_000_000),
        (["signup", "view", "click", "purchase", "error"], None),
        (["view"], 1_000_000),
    ):
        a = sorted(
            tuple(r) for r in funnel(ev, steps, horizon_us=hor).collect()
        )
        b = sorted(
            tuple(r)
            for r in funnel_arrays(ev, steps, horizon_us=hor).collect()
        )
        assert a == b, (steps, hor)
