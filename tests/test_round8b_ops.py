"""Round-8 second-batch unit tests: chi-square independence, Benford
first-digit audit, sample autocorrelation, Hampel filter, and the
sliding distinct count — hand-computable fixtures pinning semantics
the sf-scale oracle gate then verifies statistically."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.events import (
    autocorr,
    benford_digits,
    chisq_independence,
    hampel_outliers,
)
from mapreduce_faultolerrant_localityaware_spark.operators.relational import (
    window_distinct,
)


def test_chisq_independence_hand_computed(spark):
    """2x2 table [[10, 20], [30, 40]]: margins r=(30,70), c=(40,60),
    N=100; chi2 = sum (O*N - r*c)^2 / (r*c*N) = 0.793651 (6dp)."""
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20 + [("y", "p")] * 30 + [("y", "q")] * 40
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = chisq_independence(df, "a", "b").collect()[0]
    assert (out["n"], out["r_levels"], out["c_levels"], out["dof"]) == (100, 2, 2, 1)
    expect = sum(
        (o * 100 - r * c) ** 2 / (r * c * 100)
        for o, r, c in [(10, 30, 40), (20, 30, 60), (30, 70, 40), (40, 70, 60)]
    )
    assert out["chi2"] == round(expect, 6)


def test_chisq_independent_columns_zero(spark):
    """A perfectly proportional table has chi2 exactly 0."""
    rows = [("x", "p")] * 2 + [("x", "q")] * 4 + [("y", "p")] * 3 + [("y", "q")] * 6
    df = spark.createDataFrame(rows, "a string, b string")
    assert chisq_independence(df, "a", "b").collect()[0]["chi2"] == 0.0


def test_benford_digits_counts_and_expectation(spark):
    """Leading digit is textual from the integer part; values < 1 are
    excluded; benford_pct is log10(1 + 1/d)."""
    vals = [(1.5,), (19.99,), (150.0,), (2.0,), (25.0,), (900.0,), (0.5,)]
    df = spark.createDataFrame(vals, "v double")
    got = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    assert {d: r["n_values"] for d, r in got.items()} == {1: 3, 2: 2, 9: 1}
    assert got[1]["pct"] == 0.5  # 3 of 6 (the 0.5 row is excluded)
    assert got[1]["benford_pct"] == round(math.log10(2), 6)
    assert got[9]["deviation"] == round(1 / 6 - math.log10(1 + 1 / 9), 6)


def test_autocorr_alternating_series(spark):
    """y = 1,2,1,2,... has ACF(1) = -1 and ACF(2) = +1 exactly."""
    rows = [(i, 1 + (i % 2)) for i in range(10)]
    df = spark.createDataFrame(rows, "t long, y long")
    got = {r["lag"]: r for r in autocorr(df, "t", "y", max_lag=2).collect()}
    assert got[1]["n_pairs"] == 9 and got[1]["acf"] == -1.0
    assert got[2]["n_pairs"] == 8 and got[2]["acf"] == 1.0


def test_autocorr_constant_series_null(spark):
    """Zero variance on either side -> NULL (try_divide), not a crash."""
    df = spark.createDataFrame([(i, 5) for i in range(6)], "t long, y long")
    rows = autocorr(df, "t", "y", max_lag=1).collect()
    assert len(rows) == 1 and rows[0]["acf"] is None


def test_hampel_flags_spike_not_shift(spark):
    """A lone spike inside a steady run is flagged; the steady points
    are not.  Frame n=5, k=3; values in cents stay exact."""
    vals = [10.0, 10.0, 10.0, 10.0, 99.0, 10.0, 10.0, 10.0]
    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    # hampel reads (user_id, event_id, value) and orders by ts by
    # default: reuse event_id as the order key
    out = hampel_outliers(df, order_cols=("event_id",), n=5)
    flags = {r["event_id"]: r["is_outlier"] for r in out.collect()}
    assert flags[4] == 1  # the spike
    assert all(v == 0 for k_, v in flags.items() if k_ != 4)
    med = {r["event_id"]: r["roll_median"] for r in out.collect()}
    assert med[4] == 10.0  # median of [10,10,10,10,99] resists the spike


def test_hampel_zero_mad_tie_rule(spark):
    """All-equal frame: MAD = 0, so any deviation flags but an equal
    value does not (strict >)."""
    rows = [(1, i, 10.0) for i in range(4)] + [(1, 4, 10.01)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    out = hampel_outliers(df, order_cols=("event_id",), n=5)
    flags = {r["event_id"]: r["is_outlier"] for r in out.collect()}
    assert flags == {0: 0, 1: 0, 2: 0, 3: 0, 4: 1}


def test_window_distinct_trailing_frame(spark):
    """Distinct count over the trailing 3-row frame per user."""
    rows = [
        (1, 0, "a"), (1, 1, "b"), (1, 2, "a"), (1, 3, "a"), (1, 4, "c"),
        (2, 0, "z"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, et string")
    out = window_distinct(df, "et", "user_id", ["event_id"], n=3)
    got = {(r["user_id"], r["event_id"]): r["n_distinct"] for r in out.collect()}
    assert got == {
        (1, 0): 1,  # [a]
        (1, 1): 2,  # [a b]
        (1, 2): 2,  # [a b a]
        (1, 3): 2,  # [b a a]
        (1, 4): 2,  # [a a c]
        (2, 0): 1,
    }


def test_attribution_linear_first_last(spark):
    """One purchase ($10) with 3 touches: each channel's linear credit
    is floor(1000*1000/3)=333333 milli-cents per touch; first is the
    earliest view, last the latest click."""
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        attribution_multi_touch,
    )

    t0 = dt.datetime(2024, 1, 10, 12, 0)

    def at(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        (1, 1, at(-30), "view", 0.0),
        (2, 1, at(-20), "click", 0.0),
        (3, 1, at(-10), "click", 0.0),
        (4, 1, at(0), "purchase", 10.0),
        (5, 1, at(5), "view", 0.0),          # after purchase: no credit
        (6, 2, at(-10), "view", 0.0),        # other user: no credit
        (7, 1, at(-60 * 24 * 8), "view", 0.0),  # beyond 7-day lookback
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    got = {r["channel"]: r for r in attribution_multi_touch(df).collect()}
    assert got["view"]["n_touches"] == 1 and got["click"]["n_touches"] == 2
    assert got["view"]["n_first_touch"] == 1 and got["view"]["n_last_touch"] == 0
    assert got["click"]["n_first_touch"] == 0 and got["click"]["n_last_touch"] == 1
    # floor(10.00*100*1000/3) = 333333 milli-cents each
    assert got["view"]["linear_value"] == round(333333 / 100000.0, 6)
    assert got["click"]["linear_value"] == round(2 * 333333 / 100000.0, 6)


def test_changepoint_level_shift(spark):
    """Series 10,10,10,10,50,50,50,50: the best split is after index 4
    (k=4) with means 10 vs 50."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        changepoint_detect,
    )

    vals = [10] * 4 + [50] * 4
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t long, y long"
    )
    r = changepoint_detect(df, "t", "y").collect()[0]
    assert (r["split_at"], r["n_left"], r["n_right"]) == (3, 4, 4)
    assert (r["mean_left"], r["mean_right"]) == (10.0, 50.0)


def test_changepoint_tie_breaks_earliest(spark):
    """A constant series scores 0 at every split; the earliest split
    wins the tie."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        changepoint_detect,
    )

    df = spark.createDataFrame([(i, 7) for i in range(5)], "t long, y long")
    r = changepoint_detect(df, "t", "y").collect()[0]
    assert r["split_at"] == 0 and r["score"] == 0.0


def test_crosscorr_shifted_copy_peaks_at_shift(spark):
    """y is x delayed by 2 periods: xcorr peaks (=1.0) at lag +2 —
    x LEADS y (operator convention: corr(x_t, y_{t+k}))."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        crosscorr,
    )

    x = [1, 5, 2, 8, 3, 9, 4, 7, 6, 2]
    rows = [(i, x[i], x[i - 2] if i >= 2 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "t long, x long, y long")
    got = {r["lag"]: r["xcorr"] for r in crosscorr(df, "t", "x", "y", max_lag=2).collect()}
    assert got[2] == 1.0
    assert all(got[k] is None or got[k] < 1.0 for k in got if k != 2)


def test_ab_test_hand_computed(spark):
    """4 users: arm A (0, 2) converts 1/2; arm B (1, 3) converts 2/2.
    p = 3/4, se = sqrt(0.75*0.25*(1/2+1/2)), z = 0.5/se."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import ab_test

    rows = [
        (0, "purchase"), (0, "view"),
        (2, "view"),                     # A, no conversion
        (1, "purchase"),
        (3, "purchase"), (3, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ab_test(df).collect()[0]
    assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) == (2, 2, 1, 2)
    assert (r["rate_a"], r["rate_b"]) == (0.5, 1.0)
    se = (0.75 * 0.25 * (0.5 + 0.5)) ** 0.5
    assert r["z_stat"] == round(0.5 / se, 6)


def test_ab_test_equal_rates_zero_z(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.events import ab_test

    rows = [(0, "purchase"), (1, "purchase"), (2, "view"), (3, "view")]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    assert ab_test(df).collect()[0]["z_stat"] == 0.0


def test_weighted_median_reaches_half(spark):
    """values 1,2,3 with weights 1,1,4: total 6, half 3 — cumw at
    value 2 is 2 (<3), at 3 is 6 (>=3) -> median 3.  With weights
    4,1,1: cumw at 1 is 4 >= 3 -> median 1."""
    from mapreduce_faultolerrant_localityaware_spark.operators.relational import (
        weighted_median,
    )

    rows = [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 4),
            ("h", 1.0, 4), ("h", 2.0, 1), ("h", 3.0, 1)]
    df = spark.createDataFrame(rows, "k string, v double, w long")
    got = {r["k"]: r for r in weighted_median(df, "k", "v", "w").collect()}
    assert got["g"]["weighted_median"] == 3.0 and got["g"]["total_weight"] == 6
    assert got["h"]["weighted_median"] == 1.0


def test_weighted_median_exact_boundary(spark):
    """2*cumw == totw counts as reached (the lower of the two middle
    values wins on an even split)."""
    from mapreduce_faultolerrant_localityaware_spark.operators.relational import (
        weighted_median,
    )

    rows = [("g", 1.0, 1), ("g", 2.0, 1)]
    df = spark.createDataFrame(rows, "k string, v double, w long")
    assert weighted_median(df, "k", "v", "w").collect()[0]["weighted_median"] == 1.0


def test_seasonal_decompose_pure_weekly_signal(spark):
    """y = 10 + (2 on Sundays): the 7-day centered trend of a pure
    weekly signal is flat (every full frame holds exactly one spike),
    the seasonal component recovers the spike, remainder ~ 0."""
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        seasonal_decompose,
    )

    start = dt.date(2024, 1, 1)  # a Monday
    rows = []
    for i in range(28):
        d = start + dt.timedelta(days=i)
        rows.append((d, 10 + (2 if d.isoweekday() == 7 else 0)))
    df = spark.createDataFrame(rows, "d date, y long")
    out = {r["d"]: r for r in seasonal_decompose(df, "d", "y", period=7).collect()}
    # edge rows: no trend
    assert out[start]["trend"] is None and out[start]["remainder"] is None
    mid = start + dt.timedelta(days=10)
    assert out[mid]["trend"] == round(72 / 7, 6)  # 6x10 + one Sunday 12
    # Sunday seasonal = 12 - trend; weekday seasonal = 10 - trend
    sun = start + dt.timedelta(days=13)  # a Sunday
    assert out[sun]["seasonal"] == round(12 - 72 / 7, 6)
    assert out[mid]["seasonal"] == round(10 - 72 / 7, 6)
    assert out[mid]["remainder"] == 0.0


def test_isotonic_pava_pools_violation(spark):
    """Bucket means 1, 3, 2 (equal weights): PAVA pools the (3, 2)
    violation to 2.5; the leading 1 stays."""
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        isotonic_fit,
    )

    rows = []
    for hour, val in [(0, 1.0), (1, 3.0), (2, 2.0)]:
        rows.append(("t", dt.datetime(2024, 1, 1, hour, 0), val))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {r["bucket"]: r for r in isotonic_fit(df).collect()}
    assert [out[b]["fit"] for b in (0, 1, 2)] == [1.0, 2.5, 2.5]
    assert [out[b]["bucket_mean"] for b in (0, 1, 2)] == [1.0, 3.0, 2.0]
    # monotone non-decreasing by construction
    fits = [out[b]["fit"] for b in sorted(out)]
    assert fits == sorted(fits)


def test_isotonic_weighted_pool_and_cascade(spark):
    """Weights matter and pooling cascades: means 4 (w=1), 1 (w=3)
    pool to 7/4 = 1.75; the preceding mean 2 then violates (2 > 1.75)
    -> the cascade pools all three blocks to (2 + 7)/5 = 1.8."""
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        isotonic_fit,
    )

    rows = [("t", dt.datetime(2024, 1, 1, 0, 0), 2.0)]
    rows += [("t", dt.datetime(2024, 1, 1, 1, 0), 4.0)]
    rows += [("t", dt.datetime(2024, 1, 1, 2, i), 1.0) for i in range(3)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {r["bucket"]: r for r in isotonic_fit(df).collect()}
    assert [out[b]["fit"] for b in (0, 1, 2)] == [1.8, 1.8, 1.8]


def test_isotonic_already_monotone_unchanged(spark):
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        isotonic_fit,
    )

    rows = [("t", dt.datetime(2024, 1, 1, h, 0), float(h + 1)) for h in range(4)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {r["bucket"]: r for r in isotonic_fit(df).collect()}
    assert all(out[b]["fit"] == out[b]["bucket_mean"] for b in out)


def test_neyman_allocation_hand_computed(spark):
    """Stratum A: values 1,3 (n=2, sigma=1); stratum B: values 5,5,5,5
    (n=4, sigma=0) -> all budget to A."""
    from mapreduce_faultolerrant_localityaware_spark.operators.relational import (
        neyman_allocation,
    )

    rows = [("A", 1.0), ("A", 3.0), ("B", 5.0), ("B", 5.0), ("B", 5.0), ("B", 5.0)]
    df = spark.createDataFrame(rows, "s string, v double")
    got = {r["stratum"]: r for r in neyman_allocation(df, "s", "v").collect()}
    assert got["A"]["sigma"] == 1.0 and got["B"]["sigma"] == 0.0
    assert got["A"]["alloc_share"] == 1.0 and got["B"]["alloc_share"] == 0.0


def test_spearman_monotone_nonlinear_is_one(spark):
    """y = x^3 is perfectly monotone: Spearman 1.0 (Pearson wouldn't be)."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        spearman_corr,
    )

    rows = [(i, i, i ** 3) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "d long, x long, y long")
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r["n"] == 8 and r["spearman"] == 1.0


def test_spearman_ties_average_rank(spark):
    """x = (1,1,2), y = (1,2,3): tied x pair gets average rank 1.5
    (doubled ranks 3,3,6); hand Pearson over (3,3,6)x(2,4,6) =
    0.866025."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        spearman_corr,
    )

    df = spark.createDataFrame([(1, 1, 1), (2, 1, 2), (3, 2, 3)], "d long, x long, y long")
    r = spearman_corr(df, "x", "y").collect()[0]
    import math
    rx, ry = [3, 3, 6], [2, 4, 6]
    n = 3
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx, syy = sum(a * a for a in rx), sum(b * b for b in ry)
    want = (sxy * n - sx * sy) / math.sqrt((sxx * n - sx * sx) * (syy * n - sy * sy))
    assert r["spearman"] == round(want, 6)


def test_mutual_information_independent_is_zero(spark):
    """A perfectly proportional table has MI exactly 0 and
    H_ab = H_a + H_b."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        mutual_information,
    )

    rows = [("x", "p")] * 2 + [("x", "q")] * 4 + [("y", "p")] * 3 + [("y", "q")] * 6
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert r["mi"] == 0.0
    assert round(r["h_a"] + r["h_b"], 5) == round(r["h_ab"], 5)


def test_mutual_information_identical_columns(spark):
    """b == a: MI equals the entropy of a (perfect coupling)."""
    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        mutual_information,
    )

    rows = [("x", "x")] * 3 + [("y", "y")] * 1
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    import math
    h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert r["mi"] == round(h, 6) == r["h_a"] == r["h_b"] == r["h_ab"]


def test_session_rules_confidence_and_lift(spark):
    """3 sessions (one user, >30min apart): {view,click}, {view},
    {click,purchase}.  Rule view->click: n_both=1, n_ante=2,
    conf=0.5, lift = 1*3/(2*2) = 0.75."""
    import datetime as dt

    from mapreduce_faultolerrant_localityaware_spark.operators.events import (
        session_rules,
    )

    t0 = dt.datetime(2024, 1, 1, 8, 0)

    def at(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    rows = [
        (1, 1, at(0), "view"), (2, 1, at(0, 5), "click"),
        (3, 1, at(2), "view"),
        (4, 1, at(4), "click"), (5, 1, at(4, 10), "purchase"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {(r["antecedent"], r["consequent"]): r
           for r in session_rules(df, min_sessions=1).collect()}
    vc = got[("view", "click")]
    assert (vc["n_both"], vc["n_ante"], vc["n_cons"], vc["n_sessions"]) == (1, 2, 2, 3)
    assert vc["confidence"] == 0.5 and vc["lift"] == 0.75
    # symmetric pair counts, asymmetric confidence
    cv = got[("click", "view")]
    assert cv["n_both"] == 1 and cv["confidence"] == 0.5
