"""Hand-computed pins for the round-10 fixes — each verifies, on a
tiny worked example, the EDGE the round-9 advice found untestable on
TPC-H data:

- growth_accounting: a calendar month with ZERO actives must appear
  (mau = 0) and receive the churners from the month before the gap,
  keeping the bridge identity Δmau = new + resurrected − churned
  across the gap (TPC-H orders span every month, so the driver gate
  never exercises this);
- simjoin_containment: a doc genuinely contained in another must
  reach containment 1.0 even when its most common shingles exceed
  the df cap — numerator and denominator now share the capped
  universe (join-side-only capping put a <1 ceiling on containment).
"""

from __future__ import annotations

import datetime as dt

import pytest

import math

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import dedup
from mapreduce_faultolerrant_localityaware_spark.operators import events as ev_ops
from mapreduce_faultolerrant_localityaware_spark.operators import relational as rel


def test_growth_accounting_gap_month_gets_the_churn(spark):
    """u1 active Jan/Feb/Apr, u2 active Jan only; March is silent.
    March must appear with mau = 0 and n_churned = 1 (u1 went silent
    after Feb), and April's resurrection must NOT inherit that churn."""
    rows = [
        (1, dt.datetime(2024, 1, 10)),
        (1, dt.datetime(2024, 2, 5)),
        (1, dt.datetime(2024, 4, 20)),
        (2, dt.datetime(2024, 1, 15)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["m"]: r for r in ev_ops.growth_accounting(df).collect()}
    jan, feb, mar, apr = (2024 * 12 + m for m in (1, 2, 3, 4))
    assert set(out) == {jan, feb, mar, apr}  # gap month present
    assert (out[jan]["mau"], out[jan]["n_new"], out[jan]["n_churned"]) == (2, 2, 0)
    # u2 silent after Jan -> churned into Feb
    assert (out[feb]["mau"], out[feb]["n_retained"], out[feb]["n_churned"]) == (1, 1, 1)
    # u1 silent after Feb -> churned into the EMPTY March, not April
    assert (out[mar]["mau"], out[mar]["n_churned"]) == (0, 1)
    assert (out[apr]["mau"], out[apr]["n_resurrected"], out[apr]["n_churned"]) == (
        1,
        1,
        0,
    )
    # bridge identity holds across the gap
    prev = {jan: 0, feb: 2, mar: 1, apr: 0}
    for m in (feb, mar, apr):
        r = out[m]
        assert r["mau"] - prev[m] == (
            r["n_new"] + r["n_resurrected"] - r["n_churned"]
        ), f"bridge broken at month {m}"


def test_containment_reaches_one_despite_df_cap(spark):
    """Doc 1 ('x y z') is fully contained in doc 2 ('x y z w') over
    2-gram shingles.  Four noise docs share the 'x y' shingle, pushing
    its df over the cap (2) — with the shared capped universe the
    containment is STILL 1/1 = 1.0; the old join-side-only cap said
    1/2 = 0.5 and the pair missed a 0.9 threshold."""
    rows = [
        (1, "x y z"),
        (2, "x y z w"),
        (3, "x y q3"),
        (4, "x y q4"),
        (5, "x y q5"),
        (6, "x y q6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.simjoin_containment(
        df, n=2, threshold=0.9, max_shingle_df=2
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs, f"contained pair missing: {sorted(pairs)}"
    r = pairs[(1, 2)]
    # capped universe: doc1 keeps only 'y z' (df=2), doc2 keeps
    # 'y z' + 'z w'; intersection = {'y z'}
    assert r["common"] == 1
    assert r["c_a_in_b"] == pytest.approx(1.0, abs=1e-9)
    assert r["c_b_in_a"] == pytest.approx(0.5, abs=1e-9)
    # the noise docs' only shared shingle was capped away: no pairs
    assert all(a == 1 and b == 2 for a, b in pairs)


def test_calibration_table_worked_example(spark):
    """4 rows, 2 bins: bucket 1 holds scores {0, 10} (no positives),
    bucket 2 {20, 30} (all positive); normalization against lo=0,
    hi=30 gives predicted rates 10/60 and 50/60."""
    rows = [(1, 0, 0), (2, 10, 0), (3, 20, 1), (4, 30, 1)]
    df = spark.createDataFrame(rows, "id long, s long, y long")
    out = {
        r["bucket"]: r
        for r in ev_ops.calibration_table(
            df, F.col("s"), F.col("y"), F.col("id"), n_bins=2
        ).collect()
    }
    b1, b2 = out[1], out[2]
    assert (b1["n"], b1["n_pos"]) == (2, 0)
    assert b1["avg_score_norm"] == round(10 / 60, 6)
    assert b1["obs_rate"] == 0.0 and b1["calib_gap"] == round(10 / 60, 6)
    assert (b2["n"], b2["n_pos"]) == (2, 2)
    assert b2["avg_score_norm"] == round(50 / 60, 6)
    assert b2["obs_rate"] == 1.0
    assert b2["calib_gap"] == round(50 / 60 - 1.0, 6)


def test_welch_ttest_worked_example(spark):
    """a = $1,2,3 vs b = $2,4,6 — the full Welch pipeline against the
    textbook formula computed inline on exact cents."""
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 4.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ev_ops.welch_ttest(df, "g", "v", "a", "b").collect()[0]
    # reference: cents moments
    va, vb = 10000.0, 40000.0  # sample variances of (100,200,300), (200,400,600)
    ua, ub = va / 3, vb / 3
    t = (200.0 - 400.0) / math.sqrt(ua + ub)
    dfw = (ua + ub) ** 2 / (ua**2 / 2 + ub**2 / 2)
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert (r["mean_a"], r["mean_b"]) == (2.0, 4.0)
    assert r["t_stat"] == round(t, 6)
    assert r["df_ws"] == round(dfw, 6)


def test_welch_ttest_degenerate_single_row_group(spark):
    """n = 1 in one group: variance undefined -> t and df NULL, not an
    ANSI error."""
    rows = [("a", 5.0), ("b", 2.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ev_ops.welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (1, 2)
    assert r["t_stat"] is None and r["df_ws"] is None


def test_cohens_kappa_worked_example(spark):
    """Textbook 2x2: 20 a/a, 5 a/b, 10 b/a, 15 b/b -> p_o = 0.7,
    p_e = 0.5, kappa = 0.4."""
    rows = (
        [("a", "a")] * 20 + [("a", "b")] * 5 + [("b", "a")] * 10 + [("b", "b")] * 15
    )
    df = spark.createDataFrame(rows, "x string, y string")
    r = rel.cohens_kappa(df, F.col("x"), F.col("y")).collect()[0]
    assert r["n"] == 50
    assert r["p_o"] == 0.7
    assert r["p_e"] == 0.5
    assert r["kappa"] == 0.4


def test_cohens_kappa_perfect_and_chance(spark):
    """Identical raters -> kappa = 1; a constant rater -> p_e captures
    all agreement and kappa is NULL (p_e = 1) or 0."""
    same = spark.createDataFrame(
        [("a", "a")] * 3 + [("b", "b")] * 2, "x string, y string"
    )
    r1 = rel.cohens_kappa(same, F.col("x"), F.col("y")).collect()[0]
    assert r1["kappa"] == 1.0
    const = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("a", "a")], "x string, y string"
    )
    r2 = rel.cohens_kappa(const, F.col("x"), F.col("y")).collect()[0]
    # rater y is constant 'a': p_e = p_o iff x's 'a'-share equals p_o
    assert r2["p_e"] is not None


def test_wilson_ci_worked_example(spark):
    """One event type reaching 1 of 4 users: p = 0.25, Wilson bounds
    from the closed form; interval inside [0,1] even at p-hat = 1."""
    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "a"), (1, "b")]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r["event_type"]: r for r in ev_ops.wilson_ci(df).collect()}
    z, n = 1.96, 4.0
    p = 0.25
    denom = 1.0 + z * z / n
    center = p + z * z / (2 * n)
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    b = out["b"]
    assert (b["n_users"], b["n_total"]) == (1, 4)
    assert b["ci_lo"] == round((center - half) / denom, 6)
    assert b["ci_hi"] == round((center + half) / denom, 6)
    a = out["a"]  # p-hat = 1: Wald would give a zero-width [1,1]
    assert a["share"] == 1.0 and a["ci_lo"] < 1.0 and a["ci_hi"] == 1.0


def test_fk_audit_counts_orphans_and_null_fks(spark):
    """2 orphans of 4 children (one dangling key, one NULL fk — both
    vanish from an inner join, both must count)."""
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    r = rel.fk_audit(child, "fk", parent, "pk", "t->p").collect()[0]
    assert (r["relation"], r["n_child"], r["n_orphans"]) == ("t->p", 4, 2)
    assert r["orphan_share"] == 0.5


def test_column_profile_nulls_distincts_native_minmax(spark):
    """NULL counting, exact distincts, and NUMERIC (not lexicographic)
    min/max: 9 < 10 numerically though '10' < '9' as strings."""
    df = spark.createDataFrame(
        [(9, "x"), (10, "x"), (10, None)], "num long, s string"
    )
    out = {r["column"]: r for r in rel.column_profile(df, ["num", "s"]).collect()}
    num = out["num"]
    assert (num["n_rows"], num["n_null"], num["n_distinct"]) == (3, 0, 2)
    assert (num["min_value"], num["max_value"]) == ("9", "10")
    s = out["s"]
    assert (s["n_null"], s["n_distinct"]) == (1, 1)
    assert (s["min_value"], s["max_value"]) == ("x", "x")


def test_source_vocab_overlap_worked_example(spark):
    """Two near-copy sources share 2 of 3 vocab words; a disjoint
    source pairs with nothing (empty intersections absent)."""
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    rows = [
        ("s1", "alpha beta"),
        ("s1", "beta"),
        ("s2", "alpha beta gamma"),
        ("s3", "zeta"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in corpus.source_vocab_overlap(df).collect()
    }
    assert set(out) == {("s1", "s2")}  # s3 intersects nothing
    r = out[("s1", "s2")]
    assert (r["common"], r["n_a"], r["n_b"]) == (2, 2, 3)
    assert r["jaccard"] == round(2 / 3, 6)


def test_anova_oneway_worked_example(spark):
    """Three groups $1,2,3 / $2,4,6 / $5,5,5 — the F pipeline against
    the textbook sums-of-squares computed inline on exact cents."""
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 4.0), ("b", 6.0),
            ("c", 5.0), ("c", 5.0), ("c", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ev_ops.anova_oneway(df, "g", "v").collect()[0]
    cents = {"a": [100, 200, 300], "b": [200, 400, 600], "c": [500, 500, 500]}
    allv = [v for vs in cents.values() for v in vs]
    gm = sum(allv) / len(allv)
    ssb = sum(len(vs) * (sum(vs) / len(vs) - gm) ** 2 for vs in cents.values())
    ssw = sum((v - sum(vs) / len(vs)) ** 2 for vs in cents.values() for v in vs)
    f = (ssb / 2) / (ssw / 6)
    assert (r["n"], r["k_groups"], r["df_between"], r["df_within"]) == (9, 3, 2, 6)
    assert abs(r["f_stat"] - f) < 1e-6
    assert abs(r["eta_sq"] - ssb / (ssb + ssw)) < 1e-6


def test_anova_oneway_zero_within_variance_is_null(spark):
    """All groups constant -> SSW = 0 -> F NULL via nullif, not a
    division error."""
    rows = [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ev_ops.anova_oneway(df, "g", "v").collect()[0]
    assert r["f_stat"] is None and r["eta_sq"] == 1.0


def test_kruskal_wallis_worked_example_with_ties(spark):
    """Values 1,2,2 / 2,3,4 / 5,5,6 — H computed inline from average
    ranks with the tie correction; exercises the doubled-rank BIGINT
    path through a genuinely tied pool."""
    groups = {"a": [1.0, 2.0, 2.0], "b": [2.0, 3.0, 4.0], "c": [5.0, 5.0, 6.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ev_ops.kruskal_wallis(df, "g", "v").collect()[0]
    pooled = sorted(v for vs in groups.values() for v in vs)
    n = len(pooled)
    avg_rank = {}
    for v in set(pooled):
        idx = [i + 1 for i, x in enumerate(pooled) if x == v]
        avg_rank[v] = sum(idx) / len(idx)
    srn = sum(
        (sum(avg_rank[v] for v in vs)) ** 2 / len(vs) for vs in groups.values()
    )
    h = 12.0 / (n * (n + 1)) * srn - 3 * (n + 1)
    ties = {v: pooled.count(v) for v in set(pooled)}
    corr = 1 - sum(t**3 - t for t in ties.values()) / (n**3 - n)
    assert (r["n"], r["k_groups"]) == (9, 3)
    assert abs(r["h_stat"] - h / corr) < 1e-6


def test_kruskal_wallis_single_row_is_null(spark):
    """n = 1 makes the tie-correction denominator N³ − N zero: H is
    NULL (as anova_oneway and levene_test report), not an ANSI
    division error."""
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    r = ev_ops.kruskal_wallis(df, "g", "v").collect()[0]
    assert (r["n"], r["k_groups"], r["h_stat"]) == (1, 1, None)


def test_kruskal_wallis_two_groups_equals_mannwhitney_z_squared(spark):
    """The classic identity: for k = 2 the tie-corrected H IS z² of
    the rank-sum test — pins the two rank pipelines against each
    other on a tied, unbalanced sample."""
    rows = [("a", 1.0), ("a", 3.0), ("a", 3.0), ("a", 7.0),
            ("b", 2.0), ("b", 3.0), ("b", 8.0), ("b", 8.0), ("b", 9.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    h = ev_ops.kruskal_wallis(df, "g", "v").collect()[0]["h_stat"]
    z = ev_ops.mannwhitney_u(df, "g", "v", "a", "b").collect()[0]["z_stat"]
    assert abs(h - z * z) < 1e-4


def test_levene_test_worked_example(spark):
    """Brown-Forsythe on $1,2,3,10 vs $4,5,6 — inline reference:
    median-centered absolute deviations then the one-way F on them
    (doubled-cent units cancel in the ratio)."""
    groups = {"a": [1.0, 2.0, 3.0, 10.0], "b": [4.0, 5.0, 6.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ev_ops.levene_test(df, "g", "v").collect()[0]

    def med(vs):
        s = sorted(vs)
        n = len(s)
        return (s[(n - 1) // 2] + s[n // 2]) / 2

    z = {g: [abs(v - med(vs)) for v in vs] for g, vs in groups.items()}
    allz = [x for xs in z.values() for x in xs]
    gm = sum(allz) / len(allz)
    ssb = sum(len(xs) * (sum(xs) / len(xs) - gm) ** 2 for xs in z.values())
    ssw = sum((x - sum(xs) / len(xs)) ** 2 for xs in z.values() for x in xs)
    w = (ssb / 1) / (ssw / 5)
    assert (r["n"], r["k_groups"]) == (7, 2)
    assert abs(r["w_stat"] - w) < 1e-6


def test_cochran_armitage_worked_example(spark):
    """Three dose levels with rising positive rates 1/4, 2/4, 3/4 —
    z against the inline trend formula; a monotone trend must come
    out positive and the flat counterpart zero."""
    lv = [(1, 4, 1), (2, 4, 2), (3, 4, 3)]  # (score, n, positives)
    rows = [(s, 1) for s, n, p in lv for _ in range(p)] + [
        (s, 0) for s, n, p in lv for _ in range(n - p)
    ]
    df = spark.createDataFrame(rows, "s long, f long")
    r = ev_ops.cochran_armitage(df, "s", "f").collect()[0]
    n = sum(x[1] for x in lv)
    rr = sum(x[2] for x in lv)
    t = sum(s * (p - cnt * rr / n) for s, cnt, p in lv)
    pbar = rr / n
    var = pbar * (1 - pbar) * (
        sum(cnt * s * s for s, cnt, p in lv)
        - sum(cnt * s for s, cnt, p in lv) ** 2 / n
    )
    assert (r["n"], r["k_levels"]) == (12, 3)
    assert abs(r["z_stat"] - t / math.sqrt(var)) < 1e-6
    assert r["z_stat"] > 0
    flat = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1), (2, 0), (3, 1), (3, 0)], "s long, f long"
    )
    assert ev_ops.cochran_armitage(flat, "s", "f").collect()[0]["z_stat"] == 0.0


def test_power_sample_size_worked_example(spark):
    """Arm A (even users) converts 2/2, arm B (odd users) 0/2 — the
    closed-form n and MDE against the inline formula with the fixed z
    literals."""
    rows = [
        (2, "purchase"), (4, "purchase"), (2, "view"),
        (1, "view"), (3, "click"), (1, "error"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ev_ops.power_sample_size(df).collect()[0]
    z2 = (1.959964 + 0.841621) ** 2
    p_a, p_b = 1.0, 0.0
    pq = p_a * (1 - p_a) + p_b * (1 - p_b)
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert (r["p_a"], r["p_b"]) == (1.0, 0.0)
    assert r["n_required_per_arm"] == math.ceil(z2 * pq / 1.0)
    assert r["mde_at_current_n"] == round(math.sqrt(z2 * pq / 2.0), 6)


def test_interval_sweep_worked_example(spark):
    """Three intervals: [d1,d3], [d2,d2], and an inverted one that
    must be dropped — boundary deltas and running open counts checked
    day by day (ends inclusive: the -1 lands the day AFTER the end)."""
    from mapreduce_faultolerrant_localityaware_spark.operators.temporal import interval_sweep

    d = dt.date
    rows = [
        (d(2024, 1, 1), d(2024, 1, 3)),
        (d(2024, 1, 2), d(2024, 1, 2)),
        (d(2024, 1, 5), d(2024, 1, 4)),  # inverted: dropped
    ]
    df = spark.createDataFrame(rows, "s date, e date")
    out = {r["d"]: (r["delta"], r["open_count"])
           for r in interval_sweep(df, "s", "e").collect()}
    assert out[d(2024, 1, 1)] == (1, 1)   # first opens
    assert out[d(2024, 1, 2)] == (1, 2)   # second opens same-day
    assert out[d(2024, 1, 3)] == (-1, 1)  # second closed after 1/2
    assert out[d(2024, 1, 4)] == (-1, 0)  # first closed after 1/3
    assert len(out) == 4


def test_neighborhood_jaccard_worked_example(spark):
    """Triangle 1-2-3 plus pendant 4 on 3: intersection from wedges,
    union via inclusion-exclusion on degrees, non-edges scored too."""
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import neighborhood_jaccard

    edges = [(1, 2), (1, 3), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {(r["node_a"], r["node_b"]): r
           for r in neighborhood_jaccard(df).collect()}
    assert out[(1, 2)]["n_common"] == 1 and out[(1, 2)]["already_linked"] == 1
    assert out[(1, 2)]["jaccard"] == round(1 / 3, 6)   # {3} / {1,2,3}
    assert out[(1, 4)]["already_linked"] == 0
    assert out[(1, 4)]["jaccard"] == 0.5               # {3} / {2,3}
    assert out[(2, 4)]["jaccard"] == 0.5
    assert (3, 4) not in out and (1, 3) in out and (2, 3) in out


def test_js_divergence_identical_zero_disjoint_high(spark):
    """Two sources with IDENTICAL token multisets give JSD exactly 0
    (every term and the tail cancel); disjoint vocabularies score
    near the ln 2 ceiling; all pairs stay in [0, ln 2]."""
    from mapreduce_faultolerrant_localityaware_spark.operators.corpus import js_divergence

    rows = [
        ("a", "alpha beta beta gamma"),
        ("b", "alpha beta beta gamma"),
        ("c", "delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r["source_a"], r["source_b"]): r["jsd"]
           for r in js_divergence(df).collect()}
    assert out[("a", "b")] == 0.0
    assert 0.0 <= out[("a", "c")] <= math.log(2) + 1e-9
    # add-one smoothing over the tiny test vocab pulls both
    # distributions toward uniform, so the disjoint pair lands well
    # under ln 2 — what matters is strictly-positive and symmetric
    assert out[("a", "c")] > 0.01
    assert out[("a", "c")] == out[("b", "c")]


def test_contamination_embedding_worked_example(spark):
    """Eval vectors are id%10==0; an identical-direction train vector
    in the SAME label block is flagged with cos 1.0, an orthogonal one
    is not, and a cross-block near-dup is invisible (blocking is the
    declared completeness boundary)."""
    from mapreduce_faultolerrant_localityaware_spark.operators.similarity import (
        contamination_embedding,
    )

    rows = [
        (10, [1.0, 0.0], 0),   # eval, block 0
        (1, [2.0, 0.0], 0),    # train, same block, same direction -> hit
        (2, [0.0, 1.0], 0),    # train, same block, orthogonal -> no hit
        (3, [1.0, 0.0], 1),    # train, OTHER block -> invisible
        (20, [0.5, 0.5], 1),   # eval, block 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in contamination_embedding(df, threshold=0.9).collect()}
    assert out[1]["n_eval_hits"] == 1 and out[1]["max_cos"] == 1.0
    assert 2 not in out
    assert 3 not in out  # same direction as eval 10 but blocked apart


def test_forecast_baseline_worked_example(spark):
    """Nine days of known values: lag-7 forecasts exist for days 8-9
    only; MASE and sMAPE recomputed inline."""
    from mapreduce_faultolerrant_localityaware_spark.operators import events as ev

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 12.0, 11.0]
    rows = [(dt.datetime(2024, 1, 1 + i, 12, 0), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = ev.forecast_baseline(df, "ts", "value").collect()[0]
    cents = [int(v * 100) for v in vals]
    errs = [abs(cents[7] - cents[0]), abs(cents[8] - cents[1])]
    naive = [abs(cents[i] - cents[i - 1]) for i in range(1, 9)]
    mae = sum(errs) / 2
    naive_mae = sum(naive) / 8
    smape = sum(
        2 * e / (abs(a) + abs(b))
        for e, a, b in [(errs[0], cents[7], cents[0]), (errs[1], cents[8], cents[1])]
    ) / 2
    assert (r["n_days"], r["n_forecast"]) == (9, 2)
    assert r["mase"] == round(mae / naive_mae, 6)
    assert r["smape"] == round(smape, 6)


def test_delta_method_ratio_worked_example(spark):
    """Two users per arm with hand-set (value sum, event count): the
    ratio, residual variance, and z recomputed inline."""
    from mapreduce_faultolerrant_localityaware_spark.operators import events as ev

    # user -> list of event values; even users = arm A
    data = {2: [1.0, 3.0], 4: [2.0], 1: [5.0], 3: [1.0, 1.0, 1.0]}
    rows = [(u, v) for u, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "user_id long, value double")
    r = ev.delta_method_ratio(df).collect()[0]

    def arm_stats(users):
        xy = [(int(sum(data[u]) * 100), len(data[u])) for u in users]
        n = len(xy)
        sx, sy = sum(x for x, _ in xy), sum(y for _, y in xy)
        rr = sx / sy
        s2 = sum((x - rr * y) ** 2 for x, y in xy) / (n - 1)
        return n, rr, n * s2 / sy**2

    na, ra, va = arm_stats([2, 4])
    nb, rb, vb = arm_stats([1, 3])
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["ratio_a"] == round(ra / 100, 6)
    assert r["ratio_b"] == round(rb / 100, 6)
    assert r["z_stat"] == round((ra - rb) / math.sqrt(va + vb), 6)


def test_tokenizer_fertility_worked_example(spark):
    """'ab cd1ef' = 2 whitespace words but 3 letter-regex tokens of 6
    chars — fertility 1.5, chars/token 2.0; per-language grouping."""
    from mapreduce_faultolerrant_localityaware_spark.operators.textstats import (
        tokenizer_fertility,
    )

    rows = [("en", "ab cd1ef"), ("en", "x y"), ("it", "ciao")]
    df = spark.createDataFrame(rows, "lang string, text string")
    out = {r["lang"]: r for r in tokenizer_fertility(df).collect()}
    en = out["en"]
    assert (en["n_docs"], en["n_words"], en["n_tokens"]) == (2, 4, 5)
    assert en["fertility"] == round(5 / 4, 6)
    assert en["chars_per_token"] == round(8 / 5, 6)
    assert out["it"]["n_tokens"] == 1 and out["it"]["chars_per_token"] == 4.0


def test_bh_significance_worked_example(spark):
    """Three segments: one with ALL values above the mean, one with
    none, one mixed — the extreme segments must be significant, the z
    and polynomial p recomputed inline, and the BH step-up must mark
    every rank at or below the last passing rank."""
    from mapreduce_faultolerrant_localityaware_spark.operators import events as ev

    rows = (
        [("hot", 10.0)] * 20       # all above the global mean
        + [("cold", 1.0)] * 20     # all below
        + [("mid", 1.0)] * 10 + [("mid", 10.0)] * 10
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["grp"]: r for r in ev.bh_significance(df, "g", "v").collect()}
    # global mean = (200+20+110)/60 cents-scale; hi iff v == 10.0
    assert (out["hot"]["n_high"], out["cold"]["n_high"], out["mid"]["n_high"]) == (
        20, 0, 10,
    )

    def p_two_sided(z):
        x = abs(z) / 1.4142135623730951
        t = 1.0 / (1.0 + 0.3275911 * x)
        poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429))))
        return poly * math.exp(-(x * x))

    def z_two_prop(k_g, n_g, k_r, n_r):
        pp = (k_g + k_r) / (n_g + n_r)
        return (k_g / n_g - k_r / n_r) / math.sqrt(
            pp * (1 - pp) * (1 / n_g + 1 / n_r)
        )

    z_hot = z_two_prop(20, 20, 10, 40)
    assert out["hot"]["z_stat"] == round(z_hot, 6)
    assert out["hot"]["p_value"] == round(p_two_sided(z_hot), 6)
    assert out["hot"]["significant"] == 1 and out["cold"]["significant"] == 1
    assert out["mid"]["significant"] == 0  # exactly the pooled rate
    ranks = sorted((r["bh_rank"], r["significant"]) for r in out.values())
    sig_ranks = [rk for rk, s in ranks if s == 1]
    assert sig_ranks == list(range(1, len(sig_ranks) + 1))  # step-up prefix


@pytest.mark.slow
def test_hll_rollup_accuracy_and_merge_consistency(spark):
    """The sketch-union weekly estimates and the all-time union must
    each land within 4% of the exact distinct counts (3-sigma for
    lg_k=12), and the all-time row must aggregate every day."""
    from mapreduce_faultolerrant_localityaware_spark.operators import events as ev
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    evts = scan(spark, "/root/testdata/sf0.01", "events")
    out = ev.hll_rollup(evts).collect()
    weekly = {r["week"]: r for r in out if r["week"] is not None}
    alltime = [r for r in out if r["week"] is None]
    assert len(alltime) == 1
    exact_all = evts.select("user_id").distinct().count()
    assert abs(alltime[0]["est_users"] - exact_all) <= max(2, 0.04 * exact_all)
    ex_week = {
        r["week"]: r["n"]
        for r in evts.groupBy(
            F.date_trunc("week", "ts").cast("date").alias("week")
        ).agg(F.count_distinct("user_id").alias("n")).collect()
    }
    assert set(weekly) == set(ex_week)
    for w, r in weekly.items():
        assert abs(r["est_users"] - ex_week[w]) <= max(2, 0.04 * ex_week[w]), w
    assert sum(r["n_days"] for r in weekly.values()) == alltime[0]["n_days"]
