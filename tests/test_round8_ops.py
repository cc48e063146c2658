"""Round-8 operator unit tests: correlated LATERAL top-k, strict-
adjacency pattern matching, exact rolling median, and graph degree
diagnostics — hand-computable fixtures pinning the semantics the
sf-scale oracle gate then verifies statistically."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.events import (
    pattern_match,
    rolling_median,
)
from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
    assortativity,
    degree_histogram,
)
from mapreduce_faultolerrant_localityaware_spark.operators.relational import (
    lateral_topk,
)


def _ts(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


def test_lateral_topk_per_key_limit_and_inner_semantics(spark):
    """k best right rows per left row; deterministic tiebreak; left
    rows with no match drop out (inner lateral)."""
    cust = spark.createDataFrame([(1,), (2,), (3,)], "c_custkey long")
    orders = spark.createDataFrame(
        [
            (10, 1, 50.0), (11, 1, 90.0), (12, 1, 70.0), (13, 1, 90.0),
            (20, 2, 10.0),
            # customer 3 has no orders
        ],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    out = lateral_topk(
        cust, orders, "c_custkey", "o_custkey",
        order=[F.desc("o_totalprice"), F.asc("o_orderkey")], k=2,
        select=["o_orderkey", "o_totalprice"],
    )
    got = sorted((r["c_custkey"], r["o_orderkey"]) for r in out.collect())
    # cust 1: the two 90.0 orders win; tie broken by orderkey asc
    assert got == [(1, 11), (1, 13), (2, 20)]


def test_pattern_match_strict_adjacency(spark):
    """An intervening event of the same user breaks the match; the
    same event may anchor overlapping matches for different starts."""
    rows = [
        # user 1: view(1) click(2) purchase(3)  -> match
        (1, 1, _ts(0), "view"), (2, 1, _ts(1), "click"), (3, 1, _ts(2), "purchase"),
        # user 2: view click [view] purchase    -> NO match (gap)
        (4, 2, _ts(0), "view"), (5, 2, _ts(1), "click"),
        (6, 2, _ts(2), "view"), (7, 2, _ts(3), "purchase"),
        # user 3: view view click purchase      -> second view anchors
        (8, 3, _ts(0), "view"), (9, 3, _ts(1), "view"),
        (10, 3, _ts(2), "click"), (11, 3, _ts(3), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = sorted(
        tuple(r) for r in pattern_match(ev).collect()
    )
    assert out == [(1, 1, 2, 3), (3, 9, 10, 11)]


def test_rolling_median_frames(spark):
    """Odd frame -> middle; even frame -> mean of middles; frames
    shorter than n use what exists."""
    rows = [
        (1, 100, _ts(0), 1.0),
        (2, 100, _ts(1), 9.0),
        (3, 100, _ts(2), 5.0),
        (4, 100, _ts(3), 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r["event_id"]: r["roll_median"] for r in rolling_median(ev, n=3).collect()}
    assert out == {
        1: 1.0,          # [1]
        2: 5.0,          # [1,9] -> (1+9)/2
        3: 5.0,          # [1,9,5] -> 5
        4: 7.0,          # [9,5,7] -> 7
    }


def test_degree_histogram_undirected_self_loop_dropped(spark):
    """Path graph a-b-c plus a self-loop on c: degrees (1,2,1)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 3)], "src long, dst long"
    )
    out = {r["degree"]: r["n_nodes"] for r in degree_histogram(edges).collect()}
    assert out == {1: 2, 2: 1}


def test_assortativity_star_is_negative_one(spark):
    """A star graph is perfectly disassortative: every edge joins the
    hub (deg k) to a leaf (deg 1), so corr(deg(u), deg(v)) = -1."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    (row,) = assortativity(edges).collect()
    assert row["n_edge_ends"] == 8
    assert row["assortativity"] == -1.0


def test_assortativity_complete_graph_undefined_degenerate(spark):
    """K3 is degree-regular: zero degree variance -> NULL coefficient
    (0/0), not a crash."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    (row,) = assortativity(edges).collect()
    assert row["assortativity"] is None
