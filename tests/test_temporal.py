"""Edge-case tests for the temporal join operators (asof_join,
range_join) — tie handling, strict vs inclusive, unmatched rows, and
the no-shuffle plan shape of the banded join."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.temporal import asof_join, range_join
from mapreduce_faultolerrant_localityaware_spark.plans import formatted_plan


def _ts(s):
    return datetime.fromisoformat(s)


def _mk(spark):
    left = spark.createDataFrame(
        [
            (1, "k1", _ts("2024-01-01T10:00:00")),
            (2, "k1", _ts("2024-01-01T12:00:00")),
            (3, "k2", _ts("2024-01-01T09:00:00")),  # before any right row
            (4, "k3", _ts("2024-01-01T10:00:00")),  # no right rows at all
        ],
        ["id", "key", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts("2024-01-01T10:00:00"), 100),  # equal-ts with left id=1
            ("k1", _ts("2024-01-01T11:00:00"), 200),
            ("k2", _ts("2024-01-01T11:30:00"), 300),
        ],
        ["key", "ts", "payload"],
    )
    return left, right


def test_asof_inclusive(spark):
    left, right = _mk(spark)
    out = asof_join(left, right, on=["key"], payload=["payload"])
    got = {r["id"]: r["payload"] for r in out.collect()}
    # id=1 matches the equal-ts right row; id=2 the latest prior; 3 and 4 drop
    assert got == {1: 100, 2: 200}


def test_asof_strict(spark):
    left, right = _mk(spark)
    out = asof_join(left, right, on=["key"], payload=["payload"], strict=True)
    got = {r["id"]: r["payload"] for r in out.collect()}
    assert got == {2: 200}  # id=1's equal-ts row excluded under <


def test_asof_right_tie_deterministic(spark):
    left = spark.createDataFrame([(1, "k", _ts("2024-01-01T12:00:00"))], ["id", "key", "ts"])
    right = spark.createDataFrame(
        [("k", _ts("2024-01-01T10:00:00"), p) for p in (5, 9, 1)], ["key", "ts", "payload"]
    )
    out = asof_join(left, right, on=["key"], payload=["payload"])
    # ties on (key, ts) resolve to the greatest payload struct
    assert out.collect()[0]["payload"] == 9


def test_asof_matches_duckdb_oracle(spark, sf_dir):
    """Cross-check the union+window implementation against DuckDB's
    native ASOF JOIN on the events table."""
    import duckdb

    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    ev = scan(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid")
    )
    got = {
        (r["event_id"], r["pid"])
        for r in asof_join(clicks, purch, on=["user_id"], payload=["pid"]).collect()
    }
    con = duckdb.connect()
    want = set(
        con.execute(
            f"""
            WITH e AS (SELECT * FROM '{sf_dir}/events.parquet'),
            l AS (SELECT event_id, user_id, ts FROM e WHERE event_type='click'),
            r AS (SELECT user_id, ts, event_id AS pid FROM e WHERE event_type='purchase')
            SELECT l.event_id, r.pid FROM l ASOF JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            """
        ).fetchall()
    )
    assert got == want


def test_range_join_broadcast_no_shuffle(spark, sf_dir):
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    orders = scan(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 100000.0), ("hi", 100000.0, 1000000.0)], ["band", "lo", "hi"]
    )
    j = range_join(orders, bands, "o_totalprice", "lo", "hi")
    plan = formatted_plan(j)
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # fact side never shuffles
    # every order falls in exactly one band
    assert j.count() == orders.count()


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window design must plan exactly ONE hash exchange (on
    the key) — the scale property that justifies it over a theta join."""
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    ev = scan(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid")
    )
    import re

    plan = formatted_plan(asof_join(clicks, purch, on=["user_id"], payload=["pid"]))
    # formatted mode lists each physical node once as "(N) Exchange"
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert "Join" not in plan  # no join operator at all — union + window


def test_range_join_semantics(spark):
    fact = spark.createDataFrame([(1, 5.0), (2, 10.0), (3, 99.0)], ["id", "v"])
    bands = spark.createDataFrame([("a", 0.0, 10.0), ("b", 10.0, 50.0)], ["band", "lo", "hi"])
    got = {(r["id"], r["band"]) for r in range_join(fact, bands, "v", "lo", "hi").collect()}
    # half-open [lo, hi): v=10 lands in band b; v=99 matches nothing
    assert got == {(1, "a"), (2, "b")}


def test_resample_ffill_fills_gaps(spark):
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators.temporal import resample_ffill

    d = dt.datetime
    ev = spark.createDataFrame(
        [
            (1, d(2024, 1, 1, 0, 10), 10.0),
            (1, d(2024, 1, 1, 0, 50), 20.0),   # same hour 0 -> v=30
            (1, d(2024, 1, 1, 3, 5), 7.0),     # hours 1,2 are gaps
            (2, d(2024, 1, 1, 5, 0), 1.0),     # single-bucket key
        ],
        ["user_id", "ts", "value"],
    )
    rows = {(r["user_id"], r["bucket"]): r for r in resample_ffill(ev).collect()}
    assert len(rows) == 4 + 1  # user 1: hours 0..3; user 2: hour 5
    h = lambda k: rows[(1, f"2024-01-01 0{k}:00:00")]
    assert h(0)["n_events"] == 2 and h(0)["v_filled"] == 30.0
    assert h(1)["n_events"] == 0 and h(1)["v_filled"] == 30.0  # carried forward
    assert h(2)["n_events"] == 0 and h(2)["v_filled"] == 30.0
    assert h(3)["n_events"] == 1 and h(3)["v_filled"] == 7.0
    assert rows[(2, "2024-01-01 05:00:00")]["v_filled"] == 1.0


def test_asof_forward_direction(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import temporal

    left = spark.createDataFrame([(1, 10), (1, 25), (2, 5)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 12, "a"), (1, 20, "b"), (1, 30, "c"), (2, 1, "d")], ["k", "ts", "tag"]
    )
    fwd = {(r["k"], r["ts"]): r["tag"] for r in temporal.asof_join(
        left, right, on=["k"], payload=["tag"], direction="forward").collect()}
    # next right at-or-after: (1,10)->12:a, (1,25)->30:c; (2,5) has none
    assert fwd == {(1, 10): "a", (1, 25): "c"}
    bwd = {(r["k"], r["ts"]): r["tag"] for r in temporal.asof_join(
        left, right, on=["k"], payload=["tag"]).collect()}
    assert bwd == {(1, 25): "b", (2, 5): "d"}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        temporal.asof_join(left, right, on=["k"], payload=["tag"], direction="nearest")


def test_resample_ohlc_deterministic_open_close(spark):
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        # same-timestamp duplicates: event_id breaks the tie
        (1, 1, t0, 10.0),
        (2, 1, t0, 11.0),
        (3, 1, t0 + dt.timedelta(hours=2), 5.0),
        (4, 1, t0 + dt.timedelta(hours=3), 20.0),
        (5, 2, t0, 7.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    out = {r["user_id"]: r for r in temporal.resample_ohlc(df).collect()}
    r1 = out[1]
    assert (r1["open"], r1["close"], r1["low"], r1["high"], r1["n_events"]) == (
        10.0, 20.0, 5.0, 20.0, 4,
    )  # open = min (ts, id) -> event 1, not 2
    assert out[2]["n_events"] == 1


def test_scd2_intervals_chain(spark):
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(days=3), 20.0),
        (1, t0 + dt.timedelta(days=9), 30.0),
        (2, t0, 5.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = sorted(
        temporal.scd2_intervals(df, "user_id", attr_cols=["value"]).collect(),
        key=lambda r: (r["user_id"], r["valid_from"]),
    )
    u1 = [r for r in out if r["user_id"] == 1]
    # intervals chain: each valid_to equals the next valid_from
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["valid_to"] is None and u1[2]["is_current"]
    assert not u1[0]["is_current"] and not u1[1]["is_current"]
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"]
