"""Event-stream and statistical-test batch operators.

Families: event shaping (gap sessions and their stats, rules and
paths, funnels, patterns, Markov transitions, attribution); users and
cohorts (growth, actives, LTV, survival, log-rank); anomaly and drift
(z-score, MAD, Hampel, CUSUM, changepoint, PSI, KS, Benford); series
(ACF, cross-correlation, smoothers, seasonality, forecast,
Durbin-Watson, runs, Theil-Sen, isotonic); experiments (A/B, SRM, CUPED,
diff-in-diff, Welch, Mann-Whitney, power, delta method, BH,
sequential, off-policy); association and k-sample tests (chi-square,
Cramér's V, MI, Spearman, Kendall, ANOVA, Kruskal-Wallis, Levene,
Cochran-Armitage); model evaluation (ROC-AUC, lift, calibration,
Wilson) and sketch rollups.

Each test is one pass of mergeable exact-integer sums (values in
cents, :func:`_cents`), then a closed form on a one-row or
domain-sized table.  The stages tests share are written once:
:func:`_xy_sums` + :func:`_pearson`, :func:`_doubled_ranks` +
:func:`_tie3`, :func:`_one_way_f`, :func:`_contingency`,
:func:`_split_at_midpoint` and :func:`_parity_pre_post_sums`.  The two
midpoints differ on purpose: :func:`_split_at_midpoint` (PSI, KS) puts
``t < t0 + floor((t1 − t0)/2)`` in the first half, while
:func:`_parity_pre_post_sums` (CUPED, diff-in-diff) puts
``t <= (lo + hi) div 2`` in the pre period.  Spearman ranks with
windows, not with :func:`_doubled_ranks`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import lit_double_array
from ._materialize import materialize_once
from .relational import _floor_div, bucketed_cum_counts, equidepth_bins, exact_ntile


def _cents(col: str) -> Column:
    """``col`` (a 2-dp value) as exact integer cents."""
    return F.round(F.col(col) * 100).cast("long")


def _xy_sums(x: str, y: str, n: str) -> list[Column]:
    """The pair count (as ``n``) and the five exact Pearson sums of
    integer columns ``x``, ``y``: ``sx sy sxy sxx syy``."""
    return [
        F.count(F.lit(1)).cast("long").alias(n),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.col(x) * F.col(y)).alias("sxy"),
        F.sum(F.col(x) * F.col(x)).alias("sxx"),
        F.sum(F.col(y) * F.col(y)).alias("syy"),
    ]


def _pearson(n: str) -> Column:
    """Pearson r over :func:`_xy_sums`'s columns, one double closed
    form; NULL when a side is constant."""
    n, sx, sy = F.col(n), F.col("sx"), F.col("sy")
    cov = F.col("sxy") * n - sx * sy
    varx = F.col("sxx") * n - sx * sx
    vary = F.col("syy") * n - sy * sy
    return F.try_divide(cov, F.sqrt(varx.cast("double") * vary.cast("double")))


def _doubled_ranks(per: DataFrame, *keep: str) -> DataFrame:
    """``keep`` plus ``r2 = 2·cum_below(v) + t + 1``, the exact doubled
    average rank of the ``t`` rows at value ``v`` of the value-domain
    table ``per`` (cumulative counts via ``bucketed_cum_counts``, so a
    near-unique domain stays parallel)."""
    return bucketed_cum_counts(per, "v", [("t", "ct")]).select(
        *keep,
        (2 * (F.col("ct") - F.col("t")) + F.col("t") + 1).cast("long").alias("r2"),
    )


def _tie3() -> Column:
    """``tie3`` = Σ(t³ − t) over the tie counts ``t``, exact (0 on no rows)."""
    return F.coalesce(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")), F.lit(0)
    ).cast("long").alias("tie3")


def _one_way_f(per_g: DataFrame) -> tuple[DataFrame, Column, Column, Column]:
    """(1-row rollup ``(n, k, s, q, a)`` of the group table ``(n_g, s_g,
    q_g)``, F ratio, SSB, SSW) with ``A = Σ s_g²/n_g``, ``SSB = A −
    S²/N``, ``SSW = Q − A``; F is NULL for k < 2 or SSW = 0."""
    a_term = F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
    roll = per_g.groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(a_term).alias("a"),
    )
    ssb = F.col("a") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("q").cast("double") - F.col("a")
    f = F.try_divide(
        F.try_divide(ssb, (F.col("k") - 1).cast("double")),
        F.nullif(
            F.try_divide(ssw, (F.col("n") - F.col("k")).cast("double")),
            F.lit(0.0),
        ),
    )
    return roll, f, ssb, ssw


def _contingency(df: DataFrame, col_a: str, col_b: str) -> tuple[DataFrame, ...]:
    """(cells ``(a, b, o)`` joined with their margins ``r``, ``c`` and
    ``n``; row, column and total margin tables) of the R×C table.  The
    domain-sized table feeds every branch, so it is materialized once
    and the input is scanned once."""
    obs = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    obs = materialize_once(obs)
    rows = obs.groupBy("a").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("b").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cell = (
        obs.join(F.broadcast(rows), "a")
        .join(F.broadcast(cols), "b")
        .join(F.broadcast(tot))
    )
    return cell, rows, cols, tot


def _split_at_midpoint(events: DataFrame, value_col: str, ts_col: str) -> DataFrame:
    """``(c, is_ref)``: value in cents, and whether the event falls in
    the first half of the time range (integer-µs midpoint of a 1-row
    min/max, broadcast back)."""
    base = events.select(
        _cents(value_col).alias("c"), F.unix_micros(F.col(ts_col)).alias("t")
    )
    bounds = base.agg(F.min("t").alias("t0"), F.max("t").alias("t1")).select(
        (F.col("t0") + F.floor((F.col("t1") - F.col("t0")) / 2)).alias("tmid")
    )
    return base.join(F.broadcast(bounds)).select(
        "c", (F.col("t") < F.col("tmid")).alias("is_ref")
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Assign gap-based session ids per user: a new session starts when
    the time since the previous event exceeds 30 minutes.

    Both windows share the same partitioning (user) and ordering, so
    Spark plans ONE exchange + sort and evaluates lag and the running
    sum in the same window stage.
    """
    # integer microseconds, not float seconds: exact gap comparison,
    # portable to any µs-precision oracle.  Lag the TIMESTAMP itself
    # (not a pre-projected unix_micros column): the exchange then
    # carries only columns it already needs, and the micros conversion
    # happens once post-shuffle — measured 0.45 s → 0.38 s at sf0.1.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts")).over(w)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    new_session = F.when(
        prev_ts.isNull() | (gap > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("session_id", F.sum(new_session).over(running).cast("long"))


def funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel: users who performed step 1, then
    step 2 AFTER their first step 1, then step 3 after THAT step 2 —
    each step anchored at the earliest qualifying event (first-touch
    semantics, the standard product-analytics funnel).

    Shape: ONE shuffle (groupBy user collecting the per-user event
    list, bounded by per-user activity — the sessionization envelope),
    then every step anchor is a higher-order array expression chained
    on the previous anchor (filter → first element of the ts-sorted
    list), entirely codegen'd; the final report is a single global
    aggregate of step counts.  A step whose predecessor is missing is
    automatically NULL: the ts >= NULL gate filters everything.

    Returns one row: ``n_<step>`` user counts per step.
    """
    steps = ("signup", "click", "purchase")
    per_user = events.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    anchors: list = []
    for i, step in enumerate(steps):
        if i == 0:
            cand = F.filter("evs", lambda e: e["event_type"] == step)
        else:
            prev = anchors[i - 1]
            cand = F.filter(
                "evs", lambda e: (e["event_type"] == step) & (e["ts"] >= prev)
            )
        # try_element_at: an empty candidate list (step never reached)
        # is NULL, not an ANSI out-of-bounds error
        anchors.append(F.try_element_at(cand, F.lit(1))["ts"])
    return per_user.agg(
        *[F.count(a).alias(f"n_{s}") for s, a in zip(steps, anchors)]
    )


def zscore_outliers(events: DataFrame) -> DataFrame:
    """Per-key z-score anomaly flagging — the metrics-pipeline outlier
    pass (a user's event value far outside their own distribution).

    DETERMINISTIC moments: the value is fixed-point (2-dp) so its
    cent-scaled integer is exact; per-key count/sum/sum-of-squares
    accumulate as INTEGER sums (associative — immune to Spark's
    nondeterministic partial-agg order, where double sums are not),
    and mean/std derive from those exact integers with an identical
    expression tree on both engines.  Population std; keys with
    zero variance (or a single event) flag nothing.

    One shuffle: the moments are window aggregates over the key
    partition, so each event picks up its key's statistics in the
    same pass that computes them — no join back.

    Returns flagged events only: ``event_id, key, value, z``.
    """
    cents = _cents("value")
    w = Window.partitionBy("user_id")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(cents).over(w)
    s2 = F.sum(cents * cents).over(w)
    mean = s1 / 100.0 / n
    var = s2 / 10000.0 / n - mean * mean
    std = F.sqrt(var)
    # zero-variance keys (incl. singletons) flag nothing: NULL z falls
    # out of the threshold filter (ANSI mode would error on /0)
    z = F.when(std > 0.0, (F.col("value") - mean) / std)
    return (
        events.select(F.col("event_id"), F.col("user_id"), F.col("value"), z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.0)
        .select(
            "event_id", "user_id", F.round("value", 6).alias("value"), F.round("z", 6).alias("z")
        )
    )


def cusum_drift(events: DataFrame) -> DataFrame:
    """Per-key CUSUM upward-drift detection — the sequential
    change-point monitor (Page 1954) a metrics pipeline runs to catch
    "this key's values shifted" that a z-score on single points
    misses.  ``C_t = max(0, C_{t-1} + (x_t − mean_k))`` (zero slack),
    drift flagged when any ``C_t`` exceeds 50.0.

    The recursion is NOT a window fold: ``C_t = S_t − min(0,
    min_{i≤t} S_i)`` for the deviation prefix sum ``S`` — so two
    stock window functions (running sum, running min) compute the
    exact recursive statistic.  All arithmetic is integer micro-units
    (values and the per-key mean lift once; the mean uses floor
    division so it is exact), making every ``C_t`` bigint-exact.

    Scale shape: one partial-agged per-key mean, broadcast back by
    equi-join, one (key)-partitioned window pass ordered (ts, id),
    one final groupBy.  No collect, no recursion, no pair space.
    """
    vm = F.round(F.col("value") * 1e6).cast("long")
    staged = events.select(
        F.col("user_id"), F.col("ts"), F.col("event_id"), vm.alias("vm")
    )
    means = staged.groupBy("user_id").agg(
        F.floor(F.sum("vm") / F.count(F.lit(1))).cast("long").alias("mean_m")
    )
    thr_m = 50_000_000
    j = staged.join(means, "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = F.sum(F.col("vm") - F.col("mean_m")).over(w)
    # two projections: a window function cannot nest inside another,
    # but both share the same (key, ts, id) sort so Spark plans ONE
    # exchange + sort and stacks the second window on the first
    pre = j.select(F.col("user_id"), F.col("ts"), F.col("event_id"), s.alias("s"))
    run = pre.select(
        F.col("user_id"),
        (F.col("s") - F.least(F.lit(0), F.min("s").over(w))).alias("cusum_m"),
    )
    return run.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.max("cusum_m") / 1e6, 6).alias("max_cusum"),
        (F.max("cusum_m") > thr_m).cast("int").alias("drift"),
    )


def mad_outliers(events: DataFrame) -> DataFrame:
    """Robust per-key outlier profile via median absolute deviation —
    the heavy-tail-safe sibling of :func:`zscore_outliers` (mean/std
    are themselves dragged by the outliers they're meant to flag; the
    median/MAD pair has a 50% breakdown point, the standard robust
    monitor for metric streams).

    DETERMINISM: values are fixed-point (2 dp), so cent-scaled longs
    are exact; the exact ``percentile`` of integers at q=0.5 is either
    an integer or a .5 midpoint — both exactly representable — and the
    absolute deviations inherit that, so median, MAD, and every
    ``dev > 3*MAD`` comparison are bit-identical across engines (no
    float-sum order sensitivity anywhere).

    One exchange: both medians are window aggregates over the same key
    partition (Spark plans one Exchange feeding two Window nodes), and
    the final rollup groups by the already-co-located key.

    Returns (key, n_events, median_value, mad_value, n_outliers)
    ordered by key.
    """
    w = Window.partitionBy("event_type")
    base = events.select(
        F.col("event_type"), _cents("value").alias("cents")
    )
    d = base.withColumn("med", F.percentile("cents", F.lit(0.5)).over(w))
    d = d.withColumn("dev", F.abs(F.col("cents") - F.col("med")))
    d = d.withColumn("mad", F.percentile("dev", F.lit(0.5)).over(w))
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("med") / 100.0, 6).alias("median_value"),
            F.round(F.max("mad") / 100.0, 6).alias("mad_value"),
            F.sum(
                F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (current type → next type) pair, the observed
    count and the conditional probability P(next | current) — the
    journey model behind next-action prediction and funnel-drop
    analysis.

    Shape at scale: ONE window exchange on the user key produces the
    (cur, nxt) pairs; the pair counting is a partial-agged groupBy on
    a domain-sized key space (|types|²), and the row-count denominator
    attaches via a window over that TINY aggregate — never a second
    pass over raw events.

    DETERMINISM: probabilities are exact integer ratios rounded at the
    edge (round(n/total, 6)); counts are exact.

    Returns (cur_type, next_type, n, p) ordered by (cur_type,
    next_type).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("user_id"),
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("cur_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("cur_type")
    return (
        counts.withColumn("p", F.round(F.col("n") / F.sum("n").over(wt), 6))
        .orderBy("cur_type", "next_type")
    )


def group_regression(events: DataFrame) -> DataFrame:
    """Per-key ordinary-least-squares trend: regress the metric on
    time within each key — slope (cents/minute), intercept, and r² —
    the per-segment trend extraction behind burn-rate alerts and
    metric forecasting.

    DETERMINISM: the five OLS sufficient statistics (Σx, Σy, Σxx, Σxy,
    Σyy) accumulate as exact bigints over integer MINUTES (centered on
    the per-key minimum, which bounds x by the dataset's time span,
    not the epoch — Σxx stays ≪ int64 for ~1e9-row keys over years)
    and integer CENTS; only the final slope/r² ratios are computed in
    double, each operand cast from an exact integer, so both engines
    see identical IEEE inputs.

    One exchange: the per-key min(ts) window and the final groupBy
    share the key partitioning (Exchange → Window → HashAggregate, no
    second shuffle).

    Returns (key, n, slope, intercept, r2) ordered by key; slope/r²
    NULL for keys with zero time variance.
    """
    w = Window.partitionBy("event_type")
    mins = F.min(F.unix_micros(F.col("ts"))).over(w)
    base = events.select(
        F.col("event_type"),
        F.floor((F.unix_micros(F.col("ts")) - mins) / 60_000_000).alias("x"),
        _cents("value").alias("y"),
    )
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # all combinations in double over exact integer inputs (long*long
    # would overflow at n·Σxy scale; double products are deterministic
    # IEEE ops on identical operands in both engines)
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov_n = n * F.col("sxy").cast("double") - sx * sy
    varx_n = n * F.col("sxx").cast("double") - sx * sx
    vary_n = n * F.col("syy").cast("double") - sy * sy
    slope = cov_n / varx_n  # cents per minute
    intercept = (sy - slope * sx) / n / 100.0  # back to value units
    r2 = (cov_n * cov_n) / (varx_n * vary_n)
    return agg.select(
        F.col("event_type"),
        F.col("n").cast("long").alias("n"),
        F.round(F.when(varx_n > 0, slope), 6).alias("slope"),
        F.round(F.when(varx_n > 0, intercept), 6).alias("intercept"),
        F.round(F.when((varx_n > 0) & (vary_n > 0), r2), 6).alias("r2"),
    ).orderBy("event_type")


def interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-user inter-arrival-time profile: gap count, exact mean,
    exact median, and max gap in whole seconds — the activity-rhythm
    signal behind engagement scoring and bot detection (humans are
    bursty; schedulers are metronomes).

    DETERMINISM: gaps are floor-integer seconds from exact microsecond
    differences; the mean comes from an exact bigint sum and the
    median from the exact ``percentile`` of integers at q=0.5 (an
    integer or a .5 midpoint, both exactly representable — the
    mad_outliers posture).  No float accumulation anywhere.

    One exchange: lag and the final groupBy share the user partition.

    Returns (user_id, n_gaps, mean_gap_s, median_gap_s, max_gap_s)
    for users with ≥ 2 events, ordered by user.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        F.col("user_id"),
        F.floor(
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
            / 1_000_000
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.round(F.sum("gap_s") / F.count(F.lit(1)), 6).alias("mean_gap_s"),
            (F.percentile("gap_s", F.lit(0.5)) * 1.0).alias("median_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Session-level rollup on top of :func:`sessionize`: per (user,
    session) the event count, exact integer-second duration, and total
    value — the table every engagement dashboard and LTV model reads
    instead of raw events.

    One DATA exchange: sessionize's windows partition by user, and the
    rollup groups by (user, session_id) — a superset key on already-
    co-located data, so the aggregate runs in the window stage with no
    re-shuffle (verified in the plan: Exchange → Sort → 2×Window →
    HashAggregate; the only other exchange is the presentation
    orderBy's range partitioning).

    Returns (user_id, session_id, n_events, duration_s, sum_cents)
    ordered by (user_id, session_id).
    """
    s = sessionize(events)
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.floor(
                (F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts"))))
                / 1_000_000
            ).cast("long").alias("duration_s"),
            F.sum(_cents("value")).alias("sum_cents"),
        )
        .orderBy("user_id", "session_id")
    )


def active_users(events: DataFrame) -> DataFrame:
    """Daily active users plus the exact rolling 7-day
    distinct-user count — the DAU/WAU pair, computed the way exact
    rolling distincts must be at scale: collapse to DISTINCT
    (user, day) FIRST (one hash aggregate over pairs, tiny vs raw
    events), then explode each pair into the 7 trailing
    windows it contributes to — a bounded fan-out on the already-
    deduplicated pair table, never a self-join or a window over raw
    rows.  Window days with no events are absent (the data defines
    the calendar).

    Returns (day, dau, wau) ordered by day; ``wau`` counts distinct
    users over [day − 6, day] among days ≥ the first
    observed day + nothing before data start is fabricated.
    """
    pairs = events.select(
        F.col("user_id").alias("u"), F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    dau = pairs.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    fan = pairs.select(
        "u",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("off"),
        F.col("d"),
    ).select("u", F.date_add(F.col("d"), F.col("off")).cast("timestamp").alias("wd"))
    wau = (
        fan.groupBy("wd")
        .agg(F.count_distinct("u").cast("long").alias("wau"))
        .withColumnRenamed("wd", "d")
    )
    # only days that actually have events (inner join back to dau)
    return (
        dau.join(wau, "d")
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "wau")
        .orderBy("day")
    )



def psi_drift(events: DataFrame) -> DataFrame:
    """Population Stability Index between the first and second half of
    the time range — THE standard production drift monitor for numeric
    features (credit-risk lineage: PSI < 0.1 stable, 0.1–0.25 watch,
    > 0.25 shifted).  Bins are the REFERENCE half's deciles, so the
    reference distribution is uniform by construction and the index
    measures how far the comparison half escapes those bins.

    Scale + determinism shape: the midpoint and the decile edges come
    from exact integer-cent aggregates (percentile-of-integers is a
    .5-midpoint-safe exact value); binning is a map-side comparison
    against the broadcast 1-row edge array; the PSI terms use exact
    integer counts with add-half smoothing, ln only in the final
    per-bin expression over exact ratios.

    Returns one row per bin (bin, n_ref, n_cmp, psi_term) plus exact
    counts, ordered by bin; total PSI = sum of psi_term (left to the
    reader/alert so bins stay auditable).
    """
    tagged = _split_at_midpoint(events, "value", "ts")
    # reference-decile edges + binning via the shared equi-depth core
    # (relational.equidepth_bins — exact integer percentiles, map-side
    # comparison chain, no sort)
    binned = equidepth_bins(
        tagged, tagged.filter("is_ref"), "c", 10
    ).select("bin", "is_ref")
    counts = binned.groupBy("bin").agg(
        F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("n_cmp"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cmp").alias("tc")
    )
    j = counts.join(F.broadcast(tot))
    # add-half smoothing keeps empty bins finite; ratios over exact ints
    pr = (F.col("n_ref") + 0.5) / (F.col("tr") + 0.5 * 10)
    pc = (F.col("n_cmp") + 0.5) / (F.col("tc") + 0.5 * 10)
    return j.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_ref").cast("long"),
        F.col("n_cmp").cast("long"),
        F.round((pc - pr) * (F.log(pc) - F.log(pr)), 6).alias("psi_term"),
    ).orderBy("bin")


def ks_test(events: DataFrame) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between the first
    and second half of the time range — the distribution-free drift
    test that complements :func:`psi_drift` (PSI needs binning; KS is
    the sup-norm over the exact empirical CDFs, sensitive to shape
    changes PSI's ten bins smear out).

    Exact at scale: values collapse to DISTINCT cents with per-side
    counts FIRST (a hash aggregate — the value domain, not the row
    count), cumulative counts come from
    :func:`~.relational.bucketed_cum_counts` (range-bucket partials +
    partitioned within-bucket ranks, with the per-side totals folded
    into the bucket-offset frame — fully parallel even when the value
    domain is near-row-cardinality, the continuous-metric shape
    round 10's single domain-table window still funneled), and
    D = max |F1 − F2| compares the cross products |c1·n2 − c2·n1| in
    DOUBLE over the exact integer counts (exact below 2⁵³ — any
    realistic corpus; a long×long product would wrap int64 silently
    at ~3e9 rows per side), divided once at the end.

    Returns one row (n_ref, n_cmp, d_stat, at_value) — the KS
    statistic and the value where the CDF gap peaks (smallest such
    value on ties).  ``d_stat`` is NULL when a half is empty (every
    event at one timestamp, or a single event).
    """
    tagged = _split_at_midpoint(events, "value", "ts")
    per_val = tagged.groupBy("c").agg(
        F.sum(F.col("is_ref").cast("long")).alias("r"),
        F.sum((~F.col("is_ref")).cast("long")).alias("q"),
    )
    cum = bucketed_cum_counts(
        per_val, "c", [("r", "c1"), ("q", "c2")], with_totals=True
    ).select(
        "c",
        F.col("c1_tot").alias("n1"),
        F.col("c2_tot").alias("n2"),
        "c1",
        "c2",
    )
    # the cross products run in DOUBLE over the exact integer counts:
    # LONG×LONG c1·n2 wraps int64 silently once each half exceeds
    # ~3e9 rows (the oracle's HUGEINT would not), and a wrapped gap
    # picks a wrong argmax.  Doubles of exact ints are deterministic
    # IEEE ops, identical on both engines; below 2^53 they are still
    # EXACT, so the 6-dp D statistic is unchanged at any realistic n.
    gap = F.abs(
        F.col("c1").cast("double") * F.col("n2")
        - F.col("c2").cast("double") * F.col("n1")
    )
    best = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.struct(gap.alias("g"), (-F.col("c")).alias("nc"))).alias("b"),
    )
    return best.select(
        F.col("n1").cast("long").alias("n_ref"),
        F.col("n2").cast("long").alias("n_cmp"),
        F.round(
            F.try_divide(F.col("b.g"), F.col("n1").cast("double") * F.col("n2")), 6
        ).alias("d_stat"),
        F.round(-F.col("b.nc") / 100.0, 6).alias("at_value"),
    )


def user_growth(events: DataFrame) -> DataFrame:
    """User growth curve: per day, how many users appear for the
    FIRST time and the cumulative registered-user count — the
    companion to :func:`active_users` (DAU says who showed up; this
    says how the base itself grows).

    Shape: first-seen day per user is one min-aggregate over (user,
    day) pairs; the daily rollup and the running total both live on
    the AGGREGATED day table (≤ a few thousand rows for years of
    data), so the only raw-data pass is the first groupBy.

    Returns (day, new_users, cum_users) ordered by day.
    """
    first = events.groupBy(F.col("user_id").alias("u")).agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("d")
    )
    daily = first.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


def conversion_latency(events: DataFrame) -> DataFrame:
    """Time-to-convert distribution: for each user with a ``from``
    event, the latency to their first ``to`` event AFTER it
    (first-touch anchoring, like :func:`funnel`), summarized as exact
    converter counts and integer-second latency mean/median/p90/max.

    Shape: ONE groupBy(user) collects the (ts, type) pairs (the
    sessionization envelope — bounded by per-user activity); both
    anchors are in-row array expressions; the summary is one global
    aggregate over per-user latencies with percentile-of-integers
    determinism.

    Returns one row: (n_from, n_converted, mean_s, median_s, p90_s,
    max_s) — latency fields NULL when nobody converts.
    """
    per_user = events.filter(F.col("event_type").isin("signup", "purchase")).groupBy(
        "user_id"
    ).agg(F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs"))
    first_from = F.try_element_at(
        F.filter("evs", lambda e: e["event_type"] == "signup"), F.lit(1)
    )["ts"]
    first_to = F.try_element_at(
        F.filter(
            "evs", lambda e: (e["event_type"] == "purchase") & (e["ts"] >= first_from)
        ),
        F.lit(1),
    )["ts"]
    lat = per_user.select(
        first_from.alias("f"),
        F.floor(
            (F.unix_micros(first_to) - F.unix_micros(first_from)) / 1_000_000
        ).alias("lat_s"),
    ).filter(F.col("f").isNotNull())
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_from"),
        F.count("lat_s").cast("long").alias("n_converted"),
        F.round(F.sum("lat_s") / F.count("lat_s"), 6).alias("mean_s"),
        (F.percentile("lat_s", F.lit(0.5)) * 1.0).alias("median_s"),
        (F.percentile("lat_s", F.lit(0.9)) * 1.0).alias("p90_s"),
        F.max("lat_s").cast("long").alias("max_s"),
    )


def pattern_match(events: DataFrame) -> DataFrame:
    """MATCH_RECOGNIZE-style STRICT-adjacency sequence detection: emit
    one row per position where a user's event stream, in event-time
    order, runs exactly ``view, click, purchase``
    with NO other event of that user in between (the strict contiguity
    the SQL standard spells ``PATTERN (A B C)`` without reluctant
    gaps).

    Shape: one window partition per user (single shuffle on the user
    key), ``lead`` offsets materialize the next k-1 types/ids in-row,
    and the match test is a row-local conjunction — no self-joins, so
    the cost is O(events) regardless of how selective the pattern is.
    At 100 TB the window partition is per-user event history, the same
    bound sessionization already carries.

    The reference has no sequence surface; this generalizes its
    ordered-reduce idea (SURVEY §2.1 O12 sort) to ordered pattern
    detection.  Returns ``(user_id, step0_id, step1_id, ...)``.
    """
    pattern = ("view", "click", "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    leads = events.select(
        "user_id",
        F.col("event_id").alias("step0_id"),
        F.col("event_type").alias("_t0"),
        *[F.lead("event_id", i).over(w).alias(f"step{i}_id") for i in range(1, len(pattern))],
        *[F.lead("event_type", i).over(w).alias(f"_t{i}") for i in range(1, len(pattern))],
    )
    cond = F.lit(True)
    for i, p in enumerate(pattern):
        cond = cond & (F.col(f"_t{i}") == p)
    return leads.filter(cond).select(
        "user_id", *[f"step{i}_id" for i in range(len(pattern))]
    )


def rolling_median(events: DataFrame, n: int = 5) -> DataFrame:
    """Exact rolling median over the trailing ``n``-row frame per user
    (``ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW``).

    Spark has no exact quantile window aggregate, so the frame's
    values ride a ``collect_list`` window (bounded: ≤ n doubles per
    row — constant-size state, unlike an unbounded frame), are sorted
    in-row, and the median is the standard order-statistic (mean of
    the two middles on even frames — matching SQL ``median()`` /
    ``quantile_cont(0.5)`` interpolation exactly, so the DuckDB oracle
    hash-matches at 6 dp).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    vals = F.sort_array(F.collect_list("value").over(w))
    sz = F.size(vals)
    mid_hi = (sz / 2 + 1).cast("int")  # upper middle (1-based)
    # sz == 0 (every value in the frame NULL — collect_list skips
    # NULLs) must yield NULL, not INVALID_INDEX_OF_ZERO (degenerate-
    # surface sweep, r9): the even branch uses try_element_at, whose
    # index-0 lookup is NULL — the SAME two-branch CaseWhen as before,
    # because an extra guard condition re-evaluates the whole sorted
    # frame array per row (CaseWhen branches don't share array
    # subexpressions; a leading size==0 guard cost +36 % on the bench).
    # greatest(idx, 1): try_element_at still REJECTS index 0, but an
    # out-of-bounds positive index is NULL — on the empty frame both
    # lookups become index-1-of-empty → NULL; on real even frames
    # sz/2 >= 1 so the clamp is a no-op
    median = F.when(
        sz % 2 == 1, F.element_at(vals, ((sz + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.try_element_at(vals, F.greatest((sz / 2).cast("int"), F.lit(1)))
            + F.try_element_at(vals, mid_hi)
        )
        / 2
    )
    return events.select(
        "user_id", "event_id", F.round(median, 6).alias("roll_median")
    )


def chisq_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the contingency-table sibling of :func:`ks_test` (KS
    asks "did this numeric distribution drift?"; chi-square asks "are
    these two labels associated?", e.g. does market segment depend on
    nation, does language depend on source domain).

    Exact-integer discipline: the observed table, row totals, column
    totals, and N are exact BIGINT counts; each cell's contribution
    uses the algebraically expanded form

        (O·N − r·c)² / (r·c·N)

    so the only float ops are the final per-cell division and the sum
    of R×C doubles-of-exact-ints (each term exact below 2⁵³; the sum's
    ordering slack is ~1 ulp over a ≤10³-cell table — ~10 orders of
    magnitude inside the 6-dp rounding).

    EMPTY cells (O = 0, absent from the grouped table) still owe the
    statistic their expected mass (0−E)²/E = E = r·c/N; rather than
    densify the R×C grid, their total folds in analytically — since
    Σ_all E = N,  χ² = Σ_observed (O−E)²/E − Σ_observed E + N  (the
    unigram_kl zero-tail trick).  A sparse contingency table (the
    round-9b cramers_v hand-pin caught the pre-fix omission) now gets
    the full Pearson value.

    Scale shape: one partial-agged shuffle to the
    contingency table (domain-sized, R×C rows — never row-count-sized),
    then broadcast margins onto it; the result is one row
    ``(n, r_levels, c_levels, dof, chi2)``.
    """
    cell = _contingency(df, col_a, col_b)[0]
    # (O·N − r·c)²/(r·c·N): numerator products stay exact in double
    # below 2^53 (N ≤ ~9e6 at sf1 keeps O·N ≤ ~8e13 — far inside);
    # summing per-cell doubles in a fixed order keeps both engines on
    # the same IEEE sequence
    num = F.col("o").cast("double") * F.col("n") - F.col("r").cast("double") * F.col("c")
    contrib = (num * num) / (
        F.col("r").cast("double") * F.col("c") * F.col("n")
    )
    expected = F.col("r").cast("double") * F.col("c") / F.col("n")
    per_cell = cell.select(
        "a", "b", "n", contrib.alias("x"), expected.alias("e")
    )
    agg = per_cell.groupBy().agg(
        F.max("n").alias("n"),
        F.sum("x").alias("obs_terms"),
        F.sum("e").alias("obs_expected"),
        F.count_distinct(F.col("a")).alias("r_levels"),
        F.count_distinct(F.col("b")).alias("c_levels"),
    )
    # zero-cell fold: chi2 = Σ_obs terms − Σ_obs E + N
    chi2 = F.col("obs_terms") - F.col("obs_expected") + F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("r_levels").cast("long").alias("r_levels"),
        F.col("c_levels").cast("long").alias("c_levels"),
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
    )


def benford_digits(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Benford's-law first-digit audit: the distribution of leading
    digits of a positive numeric column against the Benford
    expectation ``log10(1 + 1/d)`` — the classic anomaly screen for
    fabricated or machine-generated numeric fields (a synthetic
    uniform price column fails it loudly; organic multi-scale
    quantities pass).

    The leading digit is taken TEXTUALLY from the integer part
    (``substring(cast(floor(x) as bigint), 1, 1)``), not via
    ``log10`` float gymnastics, so engines can't disagree at powers of
    ten; values < 1 are excluded (their integer part has no leading
    digit).  One partial-agged shuffle to a ≤9-row table.  Returns
    ``(digit, n_values, pct, benford_pct, deviation)``.
    """
    lead = F.substring(
        F.floor(F.col(value_col)).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = (
        df.filter(F.col(value_col) >= 1)
        .select(lead.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_values"))
    )
    tot = counts.agg(F.sum("n_values").alias("n_tot"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    pct = F.col("n_values") / F.col("n_tot")
    return (
        counts.join(F.broadcast(tot))
        .select(
            "digit",
            "n_values",
            F.round(pct, 6).alias("pct"),
            F.round(benford, 6).alias("benford_pct"),
            F.round(pct - benford, 6).alias("deviation"),
        )
    )


def autocorr(
    series: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation of an ordered series at row-lags
    ``1..max_lag``: for each k, the Pearson correlation of
    ``(y_t, y_{t-k})`` over the matched pairs — the standard ACF
    diagnostic for periodicity (a weekly-seasonal daily series spikes
    at lag 7) and momentum in ops/volume series.

    ``series`` must be PRE-AGGREGATED to one row per period (the
    caller's groupBy — e.g. day → count), so it is domain-sized: the
    single ordered window partition below is bounded by calendar
    length, never corpus size, exactly like :func:`ks_test`'s
    value-domain table.  All k lag columns materialize in ONE window
    pass, unpivot via ``stack`` (row-local), and each lag's Pearson
    terms are exact integer sums (Σx Σy Σxy Σx² Σy² n) with the
    closed form evaluated once per lag in double — bit-stable, same
    discipline as assortativity/corr_matrix.  Returns
    ``(lag, n_pairs, acf)``.
    """
    w = Window.orderBy(order_col)
    base = series.select(
        F.col(value_col).cast("long").alias("y"),
        *[
            F.lag(F.col(value_col).cast("long"), k).over(w).alias(f"y_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stack_expr = "stack({n}, {args}) as (lag, x)".format(
        n=max_lag,
        args=", ".join(f"{k}, y_{k}" for k in range(1, max_lag + 1)),
    )
    pairs = base.selectExpr("y", stack_expr).filter(F.col("x").isNotNull())
    s = pairs.groupBy("lag").agg(*_xy_sums("x", "y", "n_pairs"))
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.round(_pearson("n_pairs"), 6).alias("acf"),
    )


def hampel_outliers(
    events: DataFrame,
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    n: int = 7,
) -> DataFrame:
    """Hampel filter: flag points more than 3 rolling MADs from
    the rolling median over the trailing ``n``-row frame per user —
    the robust outlier detector that, unlike a z-score
    (:func:`zscore_outliers`' family), is immune to the outliers
    poisoning their own baseline (one spike inflates a stddev but
    barely moves a median).

    EXACT INTEGER comparison throughout: values quantize to cents,
    the frame median and the MAD are carried as ``2×median`` and
    ``4×MAD`` integers (the even-frame midpoint average halves twice),
    so the flag test

        |x − med| > k·MAD   ⇔   2·|2c − med2| > k·mad4

    is integer-only — no float boundary for engines to disagree on.
    The frame rides a bounded ``collect_list`` (≤ n longs per row,
    same constant-state shape as :func:`rolling_median`).  Returns
    ``(user_id, event_id, roll_median, roll_mad, is_outlier)``.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order_cols)
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    c = _cents("value")

    def med2_of(arr):
        sz = F.size(arr)
        # empty frame (all values NULL) yields NULL via try_element_at's
        # NULL-on-index-0 — same two-branch CaseWhen as r8 (an extra
        # guard condition re-evaluates the whole array per row: CaseWhen
        # branches don't share array subexpressions, +36 % on the bench)
        # greatest(idx, 1): try_element_at still rejects index 0; the
        # clamp turns the empty frame into an out-of-bounds NULL and is
        # a no-op on real even frames (sz/2 >= 1)
        return F.when(
            sz % 2 == 1, 2 * F.element_at(arr, ((sz + 1) / 2).cast("int"))
        ).otherwise(
            F.try_element_at(arr, F.greatest((sz / 2).cast("int"), F.lit(1)))
            + F.try_element_at(arr, (sz / 2 + 1).cast("int"))
        )

    vals = F.sort_array(F.collect_list(c).over(w))
    with_med = events.select(
        "user_id", "event_id", c.alias("c"), vals.alias("vals")
    ).select(
        "user_id", "event_id", "c", "vals", med2_of(F.col("vals")).alias("med2")
    )
    devs = F.sort_array(
        F.transform(F.col("vals"), lambda v: F.abs(2 * v - F.col("med2")))
    )
    scored = with_med.select(
        "user_id", "event_id", "c", "med2", med2_of(devs).alias("mad4")
    )
    return scored.select(
        "user_id",
        "event_id",
        F.round(F.col("med2") / 200.0, 6).alias("roll_median"),
        F.round(F.col("mad4") / 400.0, 6).alias("roll_mad"),
        (2 * F.abs(2 * F.col("c") - F.col("med2")) > 3 * F.col("mad4"))
        .cast("long")
        .alias("is_outlier"),
    )


def attribution_multi_touch(events: DataFrame) -> DataFrame:
    """Multi-touch marketing attribution: each conversion's value is
    credited to the touch events (views/clicks) by the same user in
    the 7-day window strictly before it — LINEAR credit
    (value/n to each touch) plus first-touch / last-touch counts, the
    three models every growth team runs side by side.

    Exact-integer discipline: conversion value quantizes to cents and
    the per-touch linear credit is ``floor(value_cents · 10³ / n)``
    in integer MILLI-CENTS — floor division once per (conversion,
    touch), so credit sums are exact BIGINTs (order-insensitive),
    never a float accumulation for engines to disagree on.  The
    deliberate sub-milli-cent remainder (< n/10³ cents per
    conversion) is the documented price of determinism.

    Join shape: one interval equi-join on the user key bounded by the
    lookback window (the asof/range-join state bound — per-user
    touches in a week, not history); per-conversion n / first / last
    are WINDOW functions over the conversion partition — ONE exchange
    on the conversion id (the plan audit's rewrite: a groupBy +
    rejoin here re-evaluated the whole interval join as a second
    SortMergeJoin branch).  Returns one row per touch channel:
    ``(channel, n_touches, n_first_touch, n_last_touch,
    linear_value)`` with linear_value in dollars (6 dp from the exact
    milli-cent sum).
    """
    conv = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
        _cents("value").alias("vc"),
    )
    touch = events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
    )
    pairs = conv.join(touch, "u").filter(
        (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAYS"))
    )
    wc = Window.partitionBy("cid")
    wf = Window.partitionBy("cid").orderBy("tts", "tid")
    wl = Window.partitionBy("cid").orderBy(F.desc("tts"), F.desc("tid"))
    credited = pairs.select(
        "channel",
        "vc",
        F.count(F.lit(1)).over(wc).cast("long").alias("n"),
        (F.row_number().over(wf) == 1).cast("long").alias("is_first"),
        (F.row_number().over(wl) == 1).cast("long").alias("is_last"),
    ).select(
        "channel",
        # exact integer FLOOR division (never a double intermediate a
        # last-ulp misround could push across the floor boundary).
        # BOTH engines' integer division truncates toward zero (Spark
        # `div` AND DuckDB `//` — verified: -7 // 3 = -2), so BOTH
        # sides apply the same -1 correction for inexact negative
        # dividends (refunds/credits) to get mathematical floor (n, a
        # window count, is always > 0 here).  The oracle carries the
        # identical CASE correction.
        F.expr(
            "(vc * 1000) div n"
            " - (CASE WHEN (vc * 1000) % n != 0 AND vc < 0 THEN 1 ELSE 0 END)"
        ).cast("long").alias("credit_mc"),
        "is_first",
        "is_last",
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("is_first").cast("long").alias("n_first_touch"),
        F.sum("is_last").cast("long").alias("n_last_touch"),
        F.round(F.sum("credit_mc") / 100000.0, 6).alias("linear_value"),
    )


def changepoint_detect(
    series: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Exact single-changepoint detection (binary segmentation's first
    split): the split of an ordered series into a prefix/suffix
    maximizing the CUSUM-style between-segment separation

        score(k) = |k·S − n·P(k)| / (k·(n−k))        (k = prefix len)

    where P(k) is the prefix sum and S the total — algebraically
    |mean_left − mean_right|·k·(n−k)/n up to the constant n, the
    standard level-shift statistic.  The argmax is exact: numerator
    and denominator are exact BIGINT window sums (the series is
    PRE-AGGREGATED and domain-sized, like :func:`autocorr`), compared
    as doubles-of-exact-ints (< 2⁵³ at calendar scale), ties broken
    to the EARLIEST split.  Returns one row ``(split_at, n_left,
    n_right, mean_left, mean_right, score)`` — split_at is the last
    period of the left segment.
    """
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    y = F.col(value_col).cast("long")
    tot = series.agg(
        F.sum(y).alias("s_tot"), F.count(F.lit(1)).cast("long").alias("n_tot")
    )
    pref = series.select(
        F.col(order_col).alias("split_at"),
        F.sum(y).over(w).alias("p"),
        F.row_number().over(Window.orderBy(order_col)).cast("long").alias("k"),
    )
    cand = pref.join(F.broadcast(tot)).filter(F.col("k") < F.col("n_tot"))
    num = F.abs(
        F.col("k").cast("double") * F.col("s_tot")
        - F.col("n_tot").cast("double") * F.col("p")
    )
    score = num / (F.col("k").cast("double") * (F.col("n_tot") - F.col("k")))
    best = cand.select(
        "split_at", "k", "n_tot", "p", "s_tot", score.alias("score")
    ).agg(
        F.max(F.struct(F.col("score"), (-F.col("k")).alias("nk"),
                       F.col("split_at"), F.col("p"), F.col("n_tot"),
                       F.col("s_tot"))).alias("b")
    )
    k = -F.col("b.nk")
    return best.select(
        F.col("b.split_at").alias("split_at"),
        k.cast("long").alias("n_left"),
        (F.col("b.n_tot") - k).cast("long").alias("n_right"),
        F.round(F.col("b.p") / k, 6).alias("mean_left"),
        F.round((F.col("b.s_tot") - F.col("b.p")) / (F.col("b.n_tot") - k), 6).alias(
            "mean_right"
        ),
        F.round("b.score", 6).alias("score"),
    )


def crosscorr(
    series: DataFrame,
    order_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Lagged cross-correlation of two aligned series: for each lag
    k in ``-max_lag..max_lag``, the Pearson correlation of
    ``(x_t, y_{t+k})`` — does series x LEAD series y (peak at k > 0)
    or LAG it (k < 0)?  The pair diagnostic to :func:`autocorr`
    (clicks→purchases latency, error-rate→load coupling).

    Same discipline as autocorr: pre-aggregated domain-sized series,
    every shifted column from ONE ordered window pass (lead for
    k ≥ 0, lag for k < 0 — engines agree on both; a negative lead
    offset would be engine-defined), row-local ``stack``, exact
    BIGINT Pearson terms per lag, one float closed form.  Returns
    ``(lag, n_pairs, xcorr)``.
    """
    w = Window.orderBy(order_col)
    lags = list(range(-max_lag, max_lag + 1))

    def shifted(k):
        c = F.col(y_col).cast("long")
        return (F.lead(c, k) if k >= 0 else F.lag(c, -k)).over(w)

    base = series.select(
        F.col(x_col).cast("long").alias("x"),
        *[shifted(k).alias(f"y_{i}") for i, k in enumerate(lags)],
    )
    stack_expr = "stack({n}, {args}) as (lag, y)".format(
        n=len(lags),
        args=", ".join(f"{k}, y_{i}" for i, k in enumerate(lags)),
    )
    pairs = base.selectExpr("x", stack_expr).filter(F.col("y").isNotNull())
    s = pairs.groupBy("lag").agg(*_xy_sums("x", "y", "n_pairs"))
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.round(_pearson("n_pairs"), 6).alias("xcorr"),
    )


def ab_test(events: DataFrame) -> DataFrame:
    """Two-proportion A/B test summary: users split into arms by a
    deterministic assignment (``user_id % 2`` — the parity split every
    replayable experiment framework can reproduce), conversion = the
    user emitted ≥ 1 ``purchase`` event, and the pooled
    two-proportion z-statistic

        z = (p_b − p_a) / sqrt(p·(1−p)·(1/n_a + 1/n_b))

    with p the pooled rate — the first read on any experiment
    dashboard.

    Exact-integer discipline: per-arm user and converter counts are
    exact BIGINTs from one partial-agged per-user aggregate (domain =
    users, not events); the z closed form is evaluated once over
    those four integers in double (identical IEEE sequence on both
    engines).  ``try_divide`` + a NULLIF-style guard make degenerate
    splits (one empty arm, all-or-none conversion) NULL rather than an
    ANSI error.  Returns one row ``(n_a, n_b, conv_a, conv_b, rate_a,
    rate_b, z_stat)``.
    """
    per_user = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    arms = per_user.select(
        (F.col("user_id") % 2).alias("arm"), F.col("conv")
    ).groupBy().agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
        F.sum(((F.col("arm") == 0) & (F.col("conv") == 1)).cast("long")).alias("conv_a"),
        F.sum(((F.col("arm") == 1) & (F.col("conv") == 1)).cast("long")).alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    # every division is try_divide: an empty arm (n_a or n_b = 0) NULLs
    # the 1/n term → se NULL → z NULL; an all-or-none pooled rate makes
    # se exactly 0 → the outer try_divide NULLs z.  No plain '/' may
    # appear here — under this session's ANSI mode it would raise
    # DIVIDE_BY_ZERO on exactly the degenerate splits the docstring
    # promises to NULL (and the DuckDB oracle CASE-guards to NULL).
    p = F.try_divide(ca + cb, na + nb)
    se = F.sqrt(p * (1.0 - p) * (F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb)))
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(F.try_divide(ca, na), 6).alias("rate_a"),
        F.round(F.try_divide(cb, nb), 6).alias("rate_b"),
        F.round(
            F.try_divide(F.try_divide(cb, nb) - F.try_divide(ca, na), F.nullif(se, F.lit(0.0))),
            6,
        ).alias("z_stat"),
    )


def srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch check — the A/B-test HEALTH gate run
    before reading any metric (:func:`ab_test`'s prerequisite): under
    the 50/50 parity assignment the arm sizes are Binomial(n, ½), and
    the 1-dof chi-square against the expected split collapses
    algebraically to

        chi2 = (n_a − n/2)²/(n/2) + (n_b − n/2)²/(n/2) = (n_a − n_b)²/n

    — one float division of exact BIGINTs (n_a, n_b are one
    partial-agged per-user count-distinct; the squared difference is
    < 2⁵³ far beyond any real experiment).  ``mismatch`` flags
    chi2 > 3.841 (95th percentile of χ²₁) — the standard trigger to
    QUARANTINE the experiment rather than trust its metrics.
    ``try_divide``: an empty experiment (n = 0) is NULL, not an ANSI
    error.  Returns one row (n_a, n_b, srm_chi2, mismatch).
    """
    arms = events.select(F.col("user_id").alias("u")).distinct().groupBy().agg(
        F.sum((F.col("u") % 2 == 0).cast("long")).alias("n_a"),
        F.sum((F.col("u") % 2 == 1).cast("long")).alias("n_b"),
    )
    d = (F.col("n_a") - F.col("n_b")).cast("double")
    chi2 = F.try_divide(d * d, (F.col("n_a") + F.col("n_b")).cast("double"))
    return arms.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > 3.841).alias("mismatch"),
    )


def seasonal_decompose(
    series: DataFrame,
    date_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition (moving-average
    flavor, STL's simple ancestor): ``y = trend + seasonal +
    remainder`` with the trend a CENTERED ``period``-row moving
    average (defined only where the frame is full), the seasonal
    component the per-weekday mean of the detrended values, and the
    remainder what's left — the first decomposition any ops/forecast
    pipeline runs on a daily series.

    Seasonal bucketing: for ``period == 7`` the bucket is the calendar
    weekday (gap-robust: a missing day doesn't shift every later row's
    phase); for any other ``period`` it is the position-mod-period
    index ``(row_number − 1) % period`` — previously non-7 periods
    silently reused the weekday bucket and computed a wrong seasonal
    index (ADVICE r8).

    Exact-rational discipline: with integer values, ``7·y − Σ₇y`` is
    an exact BIGINT per row, so the per-weekday seasonal numerator
    is an exact BIGINT sum and every emitted float is a single
    division of exact integers (identical IEEE on both engines,
    6-dp rounded).  The series is pre-aggregated/domain-sized (the
    :func:`autocorr` contract), so the single ordered window is
    calendar-bounded; the ≤``period``-row seasonal table broadcasts
    back.  Returns ``(d, y, trend, seasonal, remainder)`` —
    trend/remainder NULL on the ``period//2`` edge rows, seasonal
    NULL only if that weekday never has a full frame.
    """
    half = period // 2
    w = (
        Window.orderBy(date_col)
        .rowsBetween(-half, half)
    )
    y = F.col(value_col).cast("long")
    if period == 7:
        bucket = F.dayofweek(date_col).cast("long")
    else:
        bucket = (
            (F.row_number().over(Window.orderBy(date_col)) - 1) % period
        ).cast("long")
    base = series.select(
        F.col(date_col).alias("d"),
        y.alias("y"),
        F.sum(y).over(w).alias("sp"),
        F.count(F.lit(1)).over(w).cast("long").alias("cp"),
        bucket.alias("dow"),
    )
    full = F.col("cp") == period
    detr = base.filter(full).groupBy("dow").agg(
        F.sum(F.lit(period) * F.col("y") - F.col("sp")).alias("num"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    out = base.join(F.broadcast(detr), "dow", "left")
    trend = F.when(full, F.col("sp") / period)
    seasonal = F.col("num") / (F.lit(period).cast("double") * F.col("cnt"))
    return out.select(
        F.col("d"),
        F.col("y"),
        F.round(trend, 6).alias("trend"),
        F.round(seasonal, 6).alias("seasonal"),
        F.round(F.when(full, F.col("y") - F.col("sp") / period - seasonal), 6).alias(
            "remainder"
        ),
    )


def isotonic_fit(events: DataFrame) -> DataFrame:
    """Per-key isotonic regression via PAVA (pool adjacent violators):
    the monotone-non-decreasing step function closest (weighted L2) to
    the per-bucket means — the shape-constrained fit behind calibration
    curves and dose-response/monotone-metric smoothing, where OLS's
    line is the wrong prior.

    Distributed split: the corpus-sized work is ONE partial-agged
    groupBy to (key, bucket, Σcents, n) — exact BIGINT sums — and only
    the DOMAIN-sized bucket table (≤ 24 rows per key) crosses
    into Arrow for the sequential PAVA pool, which accumulates the
    pooled (Σ, n) as exact Python integers (arbitrary precision) and
    divides once per block at the end.  The fit is therefore exact
    rational arithmetic — bit-reproducible across partitionings — but
    PAVA itself is not SQL-expressible, so the driver gate records
    rows-only and tests/test_round8b_ops.py pins hand-computed pools.

    ``ts`` buckets by hour-of-day.  Returns ``(key, bucket, n,
    bucket_mean, fit)`` — fit is the isotonic step value.
    """
    import pandas as pd

    cents = _cents("value")
    # a NULL value is a missing observation, not a zero: filter before
    # aggregating so an all-NULL bucket vanishes instead of feeding
    # NaN sums into the integer PAVA pool (degenerate-surface sweep, r9)
    per = events.filter(cents.isNotNull()).groupBy(
        F.col("event_type").alias("key"),
        F.hour("ts").cast("long").alias("bucket"),
    ).agg(
        F.sum(cents).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        # blocks of (sum, weight) as exact Python ints; pool while the
        # previous block's mean exceeds the next's (s_prev*n_next >
        # s_next*n_prev — integer cross-compare, no float)
        blocks: list = []  # [s, n, count_of_buckets]
        for s, n in zip(pdf["s"], pdf["n"]):
            blocks.append([int(s), int(n), 1])
            while len(blocks) > 1 and (
                blocks[-2][0] * blocks[-1][1] > blocks[-1][0] * blocks[-2][1]
            ):
                s2, n2, c2 = blocks.pop()
                blocks[-1][0] += s2
                blocks[-1][1] += n2
                blocks[-1][2] += c2
            # merge is weight-preserving, so the pooled mean is the
            # exact weighted mean of the violating run
        fit = []
        for s, n, c in blocks:
            fit.extend([round(s / n / 100.0, 6)] * c)
        pdf["fit"] = fit
        pdf["bucket_mean"] = [round(int(s) / int(n) / 100.0, 6) for s, n in zip(pdf["s"], pdf["n"])]
        return pdf[["key", "bucket", "n", "bucket_mean", "fit"]]

    return per.groupBy("key").applyInPandas(
        pava, "key string, bucket long, n long, bucket_mean double, fit double"
    )


def spearman_corr(
    series: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation: Pearson over AVERAGE ranks — the
    robust, monotonicity-not-linearity companion to the exact Pearson
    ops (:func:`crosscorr`, corr_matrix): outliers and nonlinear but
    monotone couplings that wreck Pearson leave Spearman intact.

    Tie handling without floats: the average rank of a tie group is
    (min_rank + max_rank)/2, so DOUBLED average ranks
    ``2r = 2·rank() + (count_over_value − 1)`` are exact BIGINTs (the
    ×2 scaling cancels in the correlation), and every Pearson term is
    an exact integer sum — one float closed form at the end.  Input is
    a pre-aggregated domain-sized series (the :func:`autocorr`
    contract): two value-partition windows + one ordered rank window
    each.  Returns one row ``(n, spearman)``.
    """

    def r2(col):
        wr = Window.orderBy(col)
        wv = Window.partitionBy(col)
        return (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wv) - 1).cast("long")

    ranked = series.select(r2(x_col).alias("rx"), r2(y_col).alias("ry"))
    s = ranked.agg(*_xy_sums("rx", "ry", "n"))
    return s.select("n", F.round(_pearson("n"), 6).alias("spearman"))


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    the marginal and joint entropies — the magnitude companion to
    :func:`chisq_independence` (chi-square says IF the labels are
    associated; MI says HOW MUCH, in information units, and
    MI/min(H_a,H_b) is the standard normalized coupling score).

    Same shape as chisq: one partial-agged shuffle to the R×C
    contingency table, broadcast margins, then per-cell
    ``(n_ij/N)·ln(n_ij·N/(n_i·n_j))`` — every log argument is a ratio
    of exact BIGINTs (both engines' libm logs agree far inside the
    6-dp rounding; the repo's BM25/KL oracles pin the same class).
    Returns one row ``(n, h_a, h_b, h_ab, mi)``.
    """
    cell, rows, cols, tot = _contingency(df, col_a, col_b)
    o, r, c, n = (F.col(x).cast("double") for x in ("o", "r", "c", "n"))
    agg = cell.agg(
        F.max("n").alias("n"),
        F.sum((o / n) * F.log(o * n / (r * c))).alias("mi"),
        F.sum(-(o / n) * F.log(o / n)).alias("h_ab"),
    )
    h_a = rows.join(F.broadcast(tot)).agg(
        F.sum(
            -(F.col("r").cast("double") / F.col("n"))
            * F.log(F.col("r").cast("double") / F.col("n"))
        ).alias("h_a")
    )
    h_b = cols.join(F.broadcast(tot)).agg(
        F.sum(
            -(F.col("c").cast("double") / F.col("n"))
            * F.log(F.col("c").cast("double") / F.col("n"))
        ).alias("h_b")
    )
    return (
        agg.join(F.broadcast(h_a)).join(F.broadcast(h_b)).select(
            F.col("n").cast("long").alias("n"),
            F.round("h_a", 6).alias("h_a"),
            F.round("h_b", 6).alias("h_b"),
            F.round("h_ab", 6).alias("h_ab"),
            F.round("mi", 6).alias("mi"),
        )
    )


def session_rules(events: DataFrame, min_sessions: int = 2) -> DataFrame:
    """Session-scoped association rules A→B: among sessions containing
    event type A, how often does B also occur (confidence), and how
    much more often than B's base rate (lift) — market-basket rules
    with the gap session as the basket (the product-analytics read on
    "users who viewed X in a sitting also did Y").

    Shape: gap sessionization (one exchange, :func:`sessionize`),
    DISTINCT types per session (domain-bounded: |types| per basket),
    then a session-key equi-join expands ≤|types|² ordered pairs per
    session — never a corpus-sized cross space.  Counts are exact
    BIGINTs; confidence and lift are single divisions of exact
    integers.  Returns ``(antecedent, consequent, n_both, n_ante,
    n_cons, n_sessions, confidence, lift)``.
    """
    sess = sessionize(events)
    basket = sess.select(
        F.col("user_id").alias("u"),
        F.col("session_id").alias("sid"),
        F.col("event_type").alias("t"),
    ).distinct()
    # the session-type basket feeds the session count, the per-type
    # margins and both self-join sides — materialize once (round-11
    # scan audit: 5 raw scans before this)
    basket = materialize_once(basket)
    n_sessions = basket.select("u", "sid").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    per_type = basket.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    pairs = (
        basket.alias("x")
        .join(basket.alias("y"), ["u", "sid"])
        .filter(F.col("x.t") != F.col("y.t"))
        .groupBy(F.col("x.t").alias("antecedent"), F.col("y.t").alias("consequent"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    out = (
        pairs.join(
            F.broadcast(per_type.select(F.col("t").alias("antecedent"), F.col("n_t").alias("n_ante"))),
            "antecedent",
        )
        .join(
            F.broadcast(per_type.select(F.col("t").alias("consequent"), F.col("n_t").alias("n_cons"))),
            "consequent",
        )
        .join(F.broadcast(n_sessions))
        .filter(F.col("n_both") >= min_sessions)
    )
    return out.select(
        "antecedent",
        "consequent",
        "n_both",
        "n_ante",
        "n_cons",
        "n_sessions",
        F.round(F.col("n_both") / F.col("n_ante"), 6).alias("confidence"),
        F.round(
            F.col("n_both").cast("double") * F.col("n_sessions")
            / (F.col("n_ante").cast("double") * F.col("n_cons")),
            6,
        ).alias("lift"),
    )


def survival_km(
    events: DataFrame,
    horizon_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Kaplan-Meier survival estimator over user lifetimes — the
    standard churn/retention curve under right-censoring: a user's
    lifetime is first-event-day → last-event-day, and users still
    active near the corpus edge (last event within ``horizon_days`` of
    the corpus max) are CENSORED, not churned — the estimator the
    naive "days until last event" histogram gets wrong by counting
    the still-alive as dead.

    At each distinct churn time t: n_risk = users whose lifetime ≥ t
    (exact BIGINT: total minus a running prior-lifetime sum over the
    day-domain-sized step table), d = churns at t, and
    S(t) = Π (1 − d/n).  The product is carried in LOG space as
    integer micro-units — ``round(ln((n−d)/n)·1e6)`` per step, integer
    cumulative sum, one exp at the end — the same order-independent
    exactness discipline as lm_score's log-probs, so the DuckDB oracle
    hash-matches.  A terminal step with d = n_risk (everyone at risk
    churns) short-circuits to survival 0.0 rather than ln(0).

    Scale shape: one per-user partial-agged groupBy (domain = users),
    a 1-row max broadcast, then all windows run on the ≤|distinct
    lifetime| step table (bounded by the corpus day span, not rows).
    Generalizes the reference's group-count core (sum at
    core/map_reduce.go:187-189) to a censored time-to-event estimate.
    Returns ``(t, n_risk, n_events, survival)`` per churn step.
    """
    per_user = events.groupBy(user_col).agg(
        F.min(F.to_date(ts_col)).alias("first_d"),
        F.max(F.to_date(ts_col)).alias("last_d"),
    )
    mx = per_user.agg(F.max("last_d").alias("max_d"))
    life = per_user.join(F.broadcast(mx)).select(
        F.datediff("last_d", "first_d").cast("long").alias("t"),
        (F.datediff("max_d", "last_d") > horizon_days).cast("long").alias("dead"),
    )
    per_t = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_at_t"),
        F.sum("dead").cast("long").alias("d"),
    )
    tot = per_t.agg(F.coalesce(F.sum("n_at_t"), F.lit(0)).alias("n_total"))
    w_prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_t.join(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at_t").over(w_prior), F.lit(0))
        ).cast("long").alias("n_risk"),
    )
    # ln only when d < n_risk: the d = n_risk terminal step would be
    # ln(0) = -inf, and ANSI cast(-inf as long) is an error, not NULL
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(
            F.log(
                F.try_divide(
                    (F.col("n_risk") - F.col("d")).cast("double"),
                    F.col("n_risk").cast("double"),
                )
            )
            * 1000000.0
        ).cast("long"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    steps = (
        risk.filter(F.col("d") > 0)
        .withColumn("term", term)
        .withColumn("cum", F.sum("term").over(w_cum))
    )
    return steps.select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.when(F.col("d") >= F.col("n_risk"), F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum").cast("double") / 1000000.0), 6))
        .alias("survival"),
    )


def mannwhitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two groups —
    the nonparametric companion to :func:`ab_test`: does one group's
    value distribution stochastically dominate the other's, with no
    normality assumption (the test of record for skewed metrics like
    revenue, where a t/z-test on means is driven by whales).

    Exactness: values quantize to cents; rows collapse to DISTINCT
    values with per-group counts FIRST (the :func:`ks_test`
    discipline), then :func:`_doubled_ranks` gives each value its
    exact doubled average rank ``2r_v``, so the rank sum Σa_v·2r_v,
    the tie term Σ(t³−t), and the doubled statistic
    2·U_a = Σ2r·[a] − n_a(n_a+1) are all exact integers; the
    normal-approximation z with tie-corrected variance converts to
    double once.  ``try_divide``/``nullif`` make an empty group or an
    all-tied sample NULL, not an ANSI error.

    Scale shape: one partial-agged groupBy to the distinct-value
    domain, :func:`_doubled_ranks`'s bucketed cumulative counts (a
    row-level ``Window.orderBy`` would sort the whole pooled sample in
    one partition), one final 1-row rollup.
    Returns one row ``(n_a, n_b, u_a, z_stat)``.
    """
    two = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).cast("long").alias("is_a"),
        _cents(value_col).alias("v"),
    )
    per = two.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.coalesce(F.sum("is_a"), F.lit(0)).cast("long").alias("a"),
    )
    j = _doubled_ranks(per, "t", "a").groupBy().agg(
        F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum(F.col("t") - F.col("a")), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.col("a") * F.col("r2")), F.lit(0)).cast("long").alias("ra2"),
        _tie3(),
    )
    n1, n2 = F.col("n_a"), F.col("n_b")
    n = n1 + n2
    u2 = F.col("ra2") - n1 * (n1 + 1)  # doubled U_a, exact BIGINT
    var = (
        (n1 * n2).cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.try_divide(
                F.col("tie3").cast("double"), (n * (n - 1)).cast("double")
            )
        )
    )
    z = F.try_divide(
        (u2 - n1 * n2).cast("double"), F.nullif(2.0 * F.sqrt(var), F.lit(0.0))
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(u2.cast("double") / 2.0, 1).alias("u_a"),
        F.round(z, 6).alias("z_stat"),
    )


def _parity_pre_post_sums(
    events: DataFrame, user_col: str, ts_col: str, value_col: str
) -> tuple[DataFrame, list[Column]]:
    """(per_user DataFrame with exact cent sums ``x`` (pre-period) and
    ``y`` (post-period), the six per-arm sums over it for one ``agg``:
    ``n_a``, ``n_b``, ``sxa``, ``sxb``, ``sya``, ``syb``) — ONE
    definition of the corpus-midpoint period boundary (integer-µs
    ``div 2`` on a 1-row min/max broadcast, ``<=`` is pre-period) and
    the ``user % 2`` parity split, shared by :func:`cuped_adjust` and
    :func:`diff_in_diff` so the two estimators provably read the
    identical cells."""
    bounds = events.agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("lo"),
        F.max(F.unix_micros(F.col(ts_col))).alias("hi"),
    ).select(F.expr("(lo + hi) div 2").alias("mid_us"))
    cents = _cents(value_col)
    per_user = (
        events.join(F.broadcast(bounds))
        .groupBy(user_col)
        .agg(
            F.coalesce(
                F.sum(F.when(F.unix_micros(F.col(ts_col)) <= F.col("mid_us"), cents)),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.unix_micros(F.col(ts_col)) > F.col("mid_us"), cents)),
                F.lit(0),
            ).alias("y"),
        )
    )
    arm_a = (F.col(user_col) % 2 == 0).cast("long")
    arm_sums = [
        F.coalesce(F.sum(arm_a), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum(1 - arm_a), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(arm_a == 1, F.col("x"))), F.lit(0)).alias("sxa"),
        F.coalesce(F.sum(F.when(arm_a == 0, F.col("x"))), F.lit(0)).alias("sxb"),
        F.coalesce(F.sum(F.when(arm_a == 1, F.col("y"))), F.lit(0)).alias("sya"),
        F.coalesce(F.sum(F.when(arm_a == 0, F.col("y"))), F.lit(0)).alias("syb"),
    ]
    return per_user, arm_sums


def cuped_adjust(events: DataFrame) -> DataFrame:
    """CUPED variance reduction for the parity A/B split
    (:func:`ab_test`'s assignment): each user's PRE-period value sum is
    the control covariate x, the post-period sum is the outcome y,
    θ = cov(x,y)/var(x), and the adjusted lift is
    ``(ȳ_b − ȳ_a) − θ·(x̄_b − x̄_a)`` — the industry-standard trick
    (Deng et al., WSDM'13) that removes the pre-existing between-user
    variance the randomization already balanced in expectation.
    ``var_reduction`` = corr(x,y)² is the fraction of metric variance
    CUPED removes — the experiment runs 1/(1−r²)× faster.

    Exactness: the corpus midpoint is an integer-µs ``div 2`` on the
    1-row min/max broadcast; per-user x/y are exact cent BIGINTs from
    one partial-agged groupBy; the moment matrix (Σx, Σy, Σxy, Σx²,
    Σy², per-arm sums) accumulates cross-products in DECIMAL(38,0)
    (cents² overflows BIGINT — the :func:`neyman_allocation`
    discipline, matching the oracle's HUGEINT), and every ratio
    converts exact integers to double once.  Degenerate splits (an
    empty arm, zero pre-period variance) are NULL via try_divide.

    Scale shape: one 1-row bounds broadcast, one per-user groupBy, one
    global 1-row moment aggregate.  Returns one row ``(n_a, n_b,
    theta, lift_raw, lift_cuped, var_reduction)``.
    """
    per_user, arm_sums = _parity_pre_post_sums(events, "user_id", "ts", "value")
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    g = per_user.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *arm_sums,
        F.coalesce(F.sum("x"), F.lit(0)).cast("decimal(38,0)").alias("sx"),
        F.coalesce(F.sum("y"), F.lit(0)).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    covn = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varxn = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    varyn = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    theta = F.try_divide(covn, F.nullif(varxn, F.lit(0.0)))
    mean = lambda s, cnt: F.try_divide(  # noqa: E731 — cents → currency mean
        F.col(s).cast("double") / 100.0, F.col(cnt).cast("double")
    )
    lift_raw = mean("syb", "n_b") - mean("sya", "n_a")
    lift_cuped = lift_raw - theta * (mean("sxb", "n_b") - mean("sxa", "n_a"))
    return g.select(
        "n_a",
        "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(lift_raw, 6).alias("lift_raw"),
        F.round(lift_cuped, 6).alias("lift_cuped"),
        F.round(
            F.try_divide(covn * covn, F.nullif(varxn * varyn, F.lit(0.0))), 6
        ).alias("var_reduction"),
    )


def runs_test(
    series: DataFrame,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs test on a daily series: are above-median /
    below-median days randomly interleaved, or do they clump (trend,
    regime) / alternate (oscillation)?  The distribution-free
    randomness check run on residuals after :func:`seasonal_decompose`
    or before trusting :func:`autocorr`'s lag readout.

    Exactness: the series median is the doubled-median ``m2`` trick
    (:func:`mad_outliers`) — two row_number picks summed, exact BIGINT,
    no float interpolation; signs compare ``2v`` vs ``m2`` in integers
    (days AT the median are excluded, the standard treatment); the run
    count is a lag-mismatch sum; μ = 1 + 2·n₁n₂/n and the variance
    convert exact integers to double once.  try_divide/nullif make a
    degenerate series (all one sign, < 2 days) NULL, not an error.

    Scale shape: input is a pre-aggregated day-domain series (the
    :func:`autocorr` contract) — every window runs on ≤ day-span rows.
    Returns one row ``(n_pos, n_neg, n_runs, z_stat)``.
    """
    v = F.col(value_col).cast("long")
    wo = Window.orderBy(v.asc(), F.col(date_col).asc())
    cnt = series.select(F.count(F.lit(1)).alias("n_all"))
    ranked = series.select(
        F.col(date_col).alias("d"), v.alias("v"), F.row_number().over(wo).alias("rn")
    )
    m2 = ranked.join(F.broadcast(cnt)).select(
        F.when(F.col("rn") == F.expr("(n_all + 1) div 2"), F.col("v")).alias("lo"),
        F.when(F.col("rn") == F.expr("(n_all + 2) div 2"), F.col("v")).alias("hi"),
    ).groupBy().agg(
        (F.coalesce(F.sum("lo"), F.lit(0)) + F.coalesce(F.sum("hi"), F.lit(0)))
        .cast("long")
        .alias("m2")
    )
    signed = (
        ranked.join(F.broadcast(m2))
        .select(
            "d",
            F.when(2 * F.col("v") > F.col("m2"), F.lit(1))
            .when(2 * F.col("v") < F.col("m2"), F.lit(-1))
            .alias("s"),
        )
        .filter(F.col("s").isNotNull())
    )
    wd = Window.orderBy("d")
    flagged = signed.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    g = flagged.groupBy().agg(
        F.coalesce(F.sum((F.col("s") == 1).cast("long")), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum((F.col("s") == -1).cast("long")), F.lit(0)).alias("n_neg"),
        F.coalesce(F.sum("new_run"), F.lit(0)).cast("long").alias("n_runs"),
    )
    n1, n2 = F.col("n_pos"), F.col("n_neg")
    n = n1 + n2
    two_n1n2 = 2 * n1 * n2
    mu = 1.0 + F.try_divide(two_n1n2.cast("double"), n.cast("double"))
    var = F.try_divide(
        (two_n1n2 * (two_n1n2 - n)).cast("double"),
        (n * n * (n - 1)).cast("double"),
    )
    z = F.try_divide(
        F.col("n_runs").cast("double") - mu, F.nullif(F.sqrt(var), F.lit(0.0))
    )
    return g.select("n_pos", "n_neg", "n_runs", F.round(z, 6).alias("z_stat"))


def cohort_ltv(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen month,
    cumulative revenue per cohort user at each cohort age in months —
    the growth-accounting companion to :func:`retention_cohorts`
    (retention says who comes back; LTV says what they're worth as the
    cohort ages, the payback-period read).

    Exactness: the cohort key is the integer month index
    ``year·12 + month`` (no float months_between), revenue is cent
    BIGINTs, the age-cumulative sum is an integer window over the
    (cohort, age) domain table, and LTV-per-user is one division at
    the end.  Cohort size is the user count at age 0 — every user
    contributes to their cohort by construction.

    Scale shape: one user-partition window pins the cohort month (the
    :func:`sessionize` exchange class), one partial-agged groupBy to
    the (cohort × age) domain table, a |cohort|-row broadcast for
    sizes, and the cumulative window runs per cohort on ≤ month-span
    rows.  Returns ``(cohort_idx, age_months, cohort_users,
    cum_revenue_cents, ltv_per_user)``.
    """
    midx = (F.year(ts_col) * 12 + F.month(ts_col)).cast("long")
    wu = Window.partitionBy("u")
    base = events.select(
        F.col(user_col).alias("u"),
        midx.alias("m"),
        F.coalesce(_cents(value_col), F.lit(0)).alias("c"),
    ).select("u", "m", "c", F.min("m").over(wu).alias("cohort"))
    sizes = base.groupBy("cohort").agg(
        F.count_distinct(F.col("u")).cast("long").alias("cohort_users")
    )
    per_age = base.groupBy("cohort", (F.col("m") - F.col("cohort")).alias("age")).agg(
        F.sum("c").cast("long").alias("rev")
    )
    wc = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_age.withColumn("cum", F.sum("rev").over(wc))
        .join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").alias("cohort_idx"),
            F.col("age").alias("age_months"),
            "cohort_users",
            F.col("cum").alias("cum_revenue_cents"),
            F.round(
                F.try_divide(
                    F.col("cum").cast("double") / 100.0,
                    F.col("cohort_users").cast("double"),
                ),
                6,
            ).alias("ltv_per_user"),
        )
    )


def theil_sen(
    series: DataFrame,
    key_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Theil-Sen robust trend: the MEDIAN of all pairwise
    slopes (v_j − v_i)/(t_j − t_i) — the 29%-breakdown-point
    alternative to :func:`group_regression`'s OLS slope, immune to the
    outlier days/weeks that drag a least-squares trend (the
    recommended trend estimator for noisy operational series).

    Exactness: slopes are integer MICRO-slopes ``floor(1e6·Δv / Δt)``
    via sign-correct pmod floor division (matching the oracle's
    ``//``); the per-key median is the LOWER median (the order
    statistic at rank ⌈n/2⌉ — the :func:`weighted_median` convention),
    so the result is one exact micro-slope ÷1e6: a 6-decimal rational,
    never a 7th-decimal half-way case that engine rounding modes split
    (the midpoint-of-two convention lands on ÷2e6 ties).

    Scale shape: the pairwise expansion is an equi-join ON THE KEY
    with a t_i < t_j residual — m(m−1)/2 pairs per key where m is the
    DOMAIN-sized series length (months, days), never raw rows; the
    median windows run on that pair table, partitioned by key.
    Returns ``(key, n_points, n_pairs, slope)`` per key.
    """
    s = series.select(
        F.col(key_col).alias("k"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    a = s.select(F.col("k"), F.col("t").alias("t1"), F.col("v").alias("v1"))
    b = s.select(F.col("k"), F.col("t").alias("t2"), F.col("v").alias("v2"))
    pairs = a.join(b, "k").filter(F.col("t1") < F.col("t2")).select(
        "k",
        "t1",
        "t2",
        _floor_div(
            1_000_000 * (F.col("v2") - F.col("v1")), F.col("t2") - F.col("t1")
        ).alias("sl"),
    )
    wo = Window.partitionBy("k").orderBy("sl", "t1", "t2")
    wk = Window.partitionBy("k")
    picked = pairs.select(
        "k",
        "sl",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("np"),
    )
    med = picked.groupBy("k").agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("rn") == F.expr("(np + 1) div 2"), F.col("sl"))),
            F.lit(0),
        ).cast("long").alias("sl_med"),
    )
    npts = s.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    return med.join(npts, "k").select(
        F.col("k").alias(key_col),
        "n_points",
        "n_pairs",
        F.round(F.col("sl_med") / 1000000.0, 6).alias("slope"),
    )


def ewma_smooth(series: DataFrame, date_col: str, value_col: str) -> DataFrame:
    """Exponentially-weighted moving average with α = 1/2 over the
    last 16 observations — the standard operational smoother,
    expressed EXACTLY: weights are powers of two ``2^(k−1−j)`` for lag
    j, so the weighted numerator and the present-lag-only denominator
    are exact BIGINT sums (the tail beyond k lags carries weight
    < 2^−k of the head — below the 6-dp readout), and the single
    division happens once per row.  No recursion, no float
    accumulation order: the classic EWMA recurrence is
    order-dependent; this truncated closed form is hash-stable across
    engines.

    Scale shape: ONE ordered window pass evaluates all k lags (Spark
    plans one WindowExec for the shared spec); input is a
    pre-aggregated day-domain series.  Returns ``(date, value,
    ewma)`` per day.
    """
    w = Window.orderBy(date_col)
    v = F.col(value_col).cast("long")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(16):
        lagged = F.lag(v, j).over(w)
        weight = 1 << (15 - j)
        num = num + F.coalesce(lagged * weight, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    return series.select(
        F.col(date_col),
        v.alias("value"),
        F.round(F.try_divide(num.cast("double"), den.cast("double")), 6).alias(
            "ewma"
        ),
    )


def kendall_tau(
    series: DataFrame,
    t_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall τ-b rank correlation between two series — the
    concordant-vs-discordant pair count with tie correction, the
    third leg of the correlation battery (:func:`spearman_corr` ranks,
    corr_matrix moments): more robust than Spearman to small-sample
    rank perturbations and directly interpretable as
    P(concordant) − P(discordant).

    Exactness: concordance is the sign of ``(x_j−x_i)·(y_j−y_i)`` on
    exact BIGINTs over all i<j pairs; tie corrections n₁ = Σtₓ(tₓ−1)/2,
    n₂ = Σt_y(t_y−1)/2 come from two tiny tie-group aggregates;
    τ-b = (C−D)/√((n₀−n₁)(n₀−n₂)) converts exact integers to double
    once.  try_divide/nullif make a constant series NULL.

    Scale shape: the pair expansion is the in-row a<b wedge fan-out
    (the supplier_affinity pattern) — the domain-sized series folds
    into ONE array row via a global aggregate, then two Generate
    stages emit the m(m−1)/2 pairs (m = series length — months/days,
    never raw rows); no self-join, and every BNLJ build side in the
    plan is a provable 1-row aggregate.  Returns one row
    ``(n, concordant, discordant, tau_b)``.
    """
    s = series.select(
        F.col(t_col).alias("t"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    packed = s.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("t", "x", "y"))).alias("arr")
    )
    lefts = packed.select(
        F.posexplode("arr").alias("i", "p"), F.col("arr")
    )
    pairs = lefts.select(
        F.col("p.x").alias("x1"),
        F.col("p.y").alias("y1"),
        F.explode(F.slice("arr", F.col("i") + 2, F.size("arr"))).alias("q"),
    )
    prod = (F.col("q.x") - F.col("x1")) * (F.col("q.y") - F.col("y1"))
    cd = pairs.groupBy().agg(
        F.coalesce(F.sum((prod > 0).cast("long")), F.lit(0)).alias("concordant"),
        F.coalesce(F.sum((prod < 0).cast("long")), F.lit(0)).alias("discordant"),
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias("n0"),
    )
    tx = (
        s.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy().agg(
            F.coalesce(F.sum(F.col("t") * (F.col("t") - 1)), F.lit(0))
            .cast("long").alias("n1_2")
        )
    )
    ty = (
        s.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy().agg(
            F.coalesce(F.sum(F.col("t") * (F.col("t") - 1)), F.lit(0))
            .cast("long").alias("n2_2")
        )
    )
    n = s.groupBy().agg(F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias("n"))
    j = cd.join(F.broadcast(tx)).join(F.broadcast(ty)).join(F.broadcast(n))
    # doubled tie terms keep everything integer: n0_2 = 2·n0, etc.
    denom = F.sqrt(
        (2 * F.col("n0") - F.col("n1_2")).cast("double")
        * (2 * F.col("n0") - F.col("n2_2")).cast("double")
    )
    tau = F.try_divide(
        2.0 * (F.col("concordant") - F.col("discordant")).cast("double"),
        F.nullif(denom, F.lit(0.0)),
    )
    return j.select(
        "n", "concordant", "discordant", F.round(tau, 6).alias("tau_b")
    )


def mh_odds_ratio(
    df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across strata — the
    confounding-adjusted effect estimate: the crude OR mixes the
    exposure→outcome association with stratum composition (Simpson's
    paradox); MH pools the per-stratum 2×2 tables as
    ``Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)``, weighting each stratum by its
    information content — the first stratified read in any
    observational analysis.

    Exactness: the four cells per stratum are exact BIGINTs from one
    partial-agged groupBy; each stratum's ad/n and bc/n terms are one
    double division of exact integers (identical IEEE sequence on
    both engines); the crude OR comes from the summed cells.
    try_divide/nullif make degenerate strata (empty margin) NULL.

    Scale shape: one shuffle to the |strata|-row table, then a 1-row
    aggregate.  Returns one row ``(n_strata, n_rows, or_crude,
    or_mh)``.
    """
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.coalesce(F.sum((exposure & outcome).cast("long")), F.lit(0)).alias("a"),
        F.coalesce(F.sum((exposure & ~outcome).cast("long")), F.lit(0)).alias("b"),
        F.coalesce(F.sum(((~exposure) & outcome).cast("long")), F.lit(0)).alias("c"),
        F.coalesce(F.sum(((~exposure) & ~outcome).cast("long")), F.lit(0)).alias("d"),
    )
    nrow = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    g = per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.coalesce(F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d")), F.lit(0))
        .cast("long").alias("n_rows"),
        F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("sa"),
        F.coalesce(F.sum("b"), F.lit(0)).cast("long").alias("sb"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("sc"),
        F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("sd"),
        F.coalesce(
            F.sum(F.try_divide((F.col("a") * F.col("d")).cast("double"), nrow)),
            F.lit(0.0),
        ).alias("mh_num"),
        F.coalesce(
            F.sum(F.try_divide((F.col("b") * F.col("c")).cast("double"), nrow)),
            F.lit(0.0),
        ).alias("mh_den"),
    )
    or_crude = F.try_divide(
        (F.col("sa") * F.col("sd")).cast("double"),
        F.nullif((F.col("sb") * F.col("sc")).cast("double"), F.lit(0.0)),
    )
    or_mh = F.try_divide(F.col("mh_num"), F.nullif(F.col("mh_den"), F.lit(0.0)))
    return g.select(
        "n_strata",
        "n_rows",
        F.round(or_crude, 6).alias("or_crude"),
        F.round(or_mh, 6).alias("or_mh"),
    )


def session_paths(events: DataFrame) -> DataFrame:
    """Top-k session entry paths — the first 3 event types
    of each gap-session joined into a path string ("view>click>
    purchase"), counted across sessions: the Sankey/user-flow read
    that tells a product team HOW sessions start, beyond
    :func:`session_rules`' unordered co-occurrence.

    Determinism: session ids come from the :func:`sessionize` window
    composition; within a session the first events are elected by
    ``row_number`` over the (ts, event_id) total order, the path
    assembles via ``array_sort`` on (rank, type) structs (never a
    collect_list ordering assumption), and the share is one division
    of exact BIGINTs.  Top-k election is a TakeOrdered heap under the
    (count DESC, path ASC) total order.

    Scale shape: ONE user-keyed window exchange (sessionize + the
    in-session rank share it), a (session)-keyed groupBy whose rows
    carry ≤ 3 structs, the path-domain groupBy, and the k-row
    heap.  Returns ``(path, n_sessions, share)``.
    """
    sess = sessionize(events).select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.col("ts"),
        F.col("event_id").alias("eid"),
        F.col("session_id").alias("sid"),
    )
    ws = Window.partitionBy("u", "sid").orderBy(F.col("ts").asc(), F.col("eid").asc())
    ranked = sess.select(
        "u", "sid", "t", F.row_number().over(ws).alias("rn")
    ).filter(F.col("rn") <= 3)
    per_sess = ranked.groupBy("u", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "t"))), lambda s: s["t"]
            ),
            ">",
        ).alias("path")
    )
    counts = per_sess.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    tot = counts.agg(F.coalesce(F.sum("n_sessions"), F.lit(0)).alias("n_total"))
    return (
        counts.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
        .join(F.broadcast(tot))
        .select(
            "path",
            "n_sessions",
            F.round(
                F.try_divide(
                    F.col("n_sessions").cast("double"),
                    F.nullif(F.col("n_total").cast("double"), F.lit(0.0)),
                ),
                6,
            ).alias("share"),
        )
    )


def price_volume_decomposition(lineitem: DataFrame) -> DataFrame:
    """Month-over-month revenue-change waterfall: ΔRev split into a
    PRICE effect ((p₂−p₁)·q₁), a VOLUME effect (p₁·(q₂−q₁)), and the
    joint residual ((p₂−p₁)·(q₂−q₁)) — the Laspeyres decomposition
    every finance review runs to answer "did revenue move because we
    sold more units or charged more per unit?".  The three effects sum
    to ΔRev exactly by construction.

    Exactness: per-month Σrevenue (cents) and Σquantity are exact
    BIGINTs from one partial-agged groupBy; the unit price p = Σrev/Σq
    and every effect evaluate once per adjacent-month pair (one lag
    window over the month-domain series) in double over those exact
    integers — identical IEEE sequence on both engines; try_divide
    NULLs a zero-quantity month.  First month has NULL effects (no
    prior).

    Returns ``(m, rev_cents, qty, rev_delta_cents, price_effect,
    volume_effect, joint_effect)`` — effects in dollars, 6 dp.
    """
    monthly = lineitem.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("long").alias("m")
    ).agg(
        F.sum(_cents("l_extendedprice")).cast("long").alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
    )
    w = Window.orderBy("m")
    cur = monthly.select(
        "m",
        "rev",
        "q",
        F.lag("rev").over(w).alias("rev0"),
        F.lag("q").over(w).alias("q0"),
    )
    p1 = F.try_divide(
        F.col("rev0").cast("double"), F.nullif(F.col("q0").cast("double"), F.lit(0.0))
    )
    p2 = F.try_divide(
        F.col("rev").cast("double"), F.nullif(F.col("q").cast("double"), F.lit(0.0))
    )
    dq = (F.col("q") - F.col("q0")).cast("double")
    q0d = F.col("q0").cast("double")
    return cur.select(
        "m",
        F.col("rev").alias("rev_cents"),
        F.col("q").alias("qty"),
        (F.col("rev") - F.col("rev0")).cast("long").alias("rev_delta_cents"),
        F.round((p2 - p1) * q0d / 100.0, 6).alias("price_effect"),
        F.round(p1 * dq / 100.0, 6).alias("volume_effect"),
        F.round((p2 - p1) * dq / 100.0, 6).alias("joint_effect"),
    )


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Per-day new-vs-returning active-user split — the growth
    accounting read on every product dashboard (is today's activity
    fresh acquisition or the existing base?): a user is NEW on their
    first-ever active day, RETURNING on every later active day.

    Exactness & shape: one distinct (user, day) pass (the
    :func:`active_users` contract — bounded fan-out, never raw
    events past the first aggregate), the first-day election is a
    min-window over the user partition, and the day-domain rollup
    carries exact BIGINTs with one share division.  Returns
    ``(d, n_new, n_returning, new_share)`` per active day.
    """
    ud = events.select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("d")
    ).distinct()
    first = ud.select(
        "u", "d", F.min("d").over(Window.partitionBy("u")).alias("first_d")
    )
    per_day = first.groupBy("d").agg(
        F.sum((F.col("d") == F.col("first_d")).cast("long")).cast("long").alias("n_new"),
        F.sum((F.col("d") != F.col("first_d")).cast("long")).cast("long").alias(
            "n_returning"
        ),
    )
    return per_day.select(
        "d",
        "n_new",
        "n_returning",
        F.round(
            F.try_divide(
                F.col("n_new").cast("double"),
                F.nullif(
                    (F.col("n_new") + F.col("n_returning")).cast("double"), F.lit(0.0)
                ),
            ),
            6,
        ).alias("new_share"),
    )


def roc_auc(
    df: DataFrame,
    score_col: Column,
    label_col: Column,
) -> DataFrame:
    """Exact ROC-AUC of a score against a binary label via the
    Mann-Whitney identity AUC = U⁺/(n⁺·n⁻) — the model-evaluation
    number computed the way a 100 TB eval set demands: no curve
    materialization, no threshold sweep, and NO row-level sort.  Rows
    collapse to DISTINCT score values with per-class counts first
    (the :func:`ks_test` discipline — a hash aggregate to the score
    domain), then every score v carries its doubled average rank
    ``2r_v`` from :func:`_doubled_ranks` (ties get average-rank
    treatment, the standard trapezoidal-AUC equivalence), and the
    rank sum is Σp_v·2r_v over the domain-sized table.  The bucketed
    cumulative counts keep even a NEAR-UNIQUE continuous score domain
    (the realistic model-score shape, where the distinct-value
    "domain" is row-sized) fully parallel; a row-level
    ``Window.orderBy`` here would single-partition-sort the whole
    eval set.

    AUC = (Σ2r⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) — exact BIGINTs until the one
    final division; degenerate label sets (single class) are NULL.
    Returns one row ``(n_pos, n_neg, auc)``.
    """
    two = df.select(
        label_col.cast("long").alias("is_pos"), score_col.alias("v")
    )
    per = two.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.coalesce(F.sum("is_pos"), F.lit(0)).cast("long").alias("p"),
    )
    s = _doubled_ranks(per, "t", "p").groupBy().agg(
        F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum(F.col("t") - F.col("p")), F.lit(0))
        .cast("long")
        .alias("n_neg"),
        F.coalesce(F.sum(F.col("p") * F.col("r2")), F.lit(0)).cast("long").alias("rp2"),
    )
    n1, n2 = F.col("n_pos"), F.col("n_neg")
    auc = F.try_divide(
        (F.col("rp2") - n1 * (n1 + 1)).cast("double"),
        F.nullif((2 * n1 * n2).cast("double"), F.lit(0.0)),
    )
    return s.select("n_pos", "n_neg", F.round(auc, 6).alias("auc"))


def lift_table(
    df: DataFrame,
    score_col: Column,
    label_col: Column,
    id_col: Column,
    n_bins: int = 10,
) -> DataFrame:
    """Decile lift/gains table — the campaign-targeting readout
    (:func:`roc_auc`'s operational sibling): rows ranked by score
    descending into ``n_bins`` equal buckets; per bucket the response
    rate, its LIFT over the base rate, and the cumulative share of
    all positives captured (the gains curve).

    Determinism: exact ntile over the (score DESC, id ASC) total
    order — identical bucket assignment on both engines, via
    :func:`~..operators.relational.exact_ntile`'s bucketed two-pass
    (distinct-score collapse + value-partitioned straddle rank) so no
    unpartitioned row-level ntile window ever sorts the full scored
    set through one task; counts are exact BIGINTs; rate/lift/capture
    are per-row divisions of exact integers (lift = rate·N/P computed
    in one expression).  One n_bins-row rollup + one cumulative
    window on the bucket domain finish it.  Returns ``(bucket, n,
    n_pos, response_rate, lift, cum_capture)``.
    """
    binned = exact_ntile(
        df.select(
            score_col.alias("__score"),
            id_col.alias("__id"),
            label_col.cast("long").alias("is_pos"),
        ),
        n_bins,
        F.col("__score"),
        F.col("__id"),
        ascending=False,
        out_col="bucket",
    ).select("bucket", "is_pos")
    per = binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("is_pos"), F.lit(0)).cast("long").alias("n_pos"),
    )
    wt = Window.partitionBy()
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.select(
        "bucket",
        "n",
        "n_pos",
        F.sum("n").over(wt).alias("n_all"),
        F.sum("n_pos").over(wt).alias("pos_all"),
        F.sum("n_pos").over(wc).alias("cum_pos"),
    )
    rate = F.try_divide(
        F.col("n_pos").cast("double"), F.nullif(F.col("n").cast("double"), F.lit(0.0))
    )
    return tot.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n",
        "n_pos",
        F.round(rate, 6).alias("response_rate"),
        F.round(
            F.try_divide(
                (F.col("n_pos") * F.col("n_all")).cast("double"),
                F.nullif((F.col("n") * F.col("pos_all")).cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("lift"),
        F.round(
            F.try_divide(
                F.col("cum_pos").cast("double"),
                F.nullif(F.col("pos_all").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("cum_capture"),
    )


def wilson_ci(events: DataFrame) -> DataFrame:
    """Per-event-type user-reach share with a Wilson score confidence
    interval — the interval every experimentation dashboard should
    draw instead of the Wald ±z√(p̂(1−p̂)/n) (which collapses to a
    zero-width bracket at p̂ ∈ {0, 1} and escapes [0, 1] near the
    edges; Wilson stays inside and stays honest at small n):

        (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    Share semantics: for each event type, the fraction of ALL active
    users who emitted that type at least once — distinct (user, type)
    pairs over the distinct-user total.

    Exactness: numerator and denominator are exact BIGINT distinct
    counts (one partial-agged distinct-pair groupBy + a 1-row
    distinct-user broadcast); p̂ and the Wilson algebra run in DOUBLE
    over those exact integers in a fixed expression order — sqrt is
    IEEE-correctly-rounded, so both engines produce identical bits.
    Returns ``(event_type, n_users, n_total, share, ci_lo, ci_hi)``.
    """
    pairs = events.select(
        F.col("event_type").alias("t"), F.col("user_id").alias("u")
    ).distinct()
    per = pairs.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("k"))
    tot = pairs.agg(F.count_distinct("u").cast("long").alias("n"))
    j = per.join(F.broadcast(tot))
    kd, nd = F.col("k").cast("double"), F.col("n").cast("double")
    p = kd / nd
    z2 = F.lit(1.96 * 1.96)
    denom = F.lit(1.0) + z2 / nd
    center = p + z2 / (2.0 * nd)
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / nd + z2 / (4.0 * nd * nd)
    )
    return j.select(
        F.col("t").alias("event_type"),
        F.col("k").alias("n_users"),
        F.col("n").alias("n_total"),
        F.round(p, 6).alias("share"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


def calibration_table(
    df: DataFrame,
    score_col: Column,
    label_col: Column,
    id_col: Column,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram calibration table — the third leg of the
    model-eval battery (:func:`roc_auc` ranks, :func:`lift_table`
    targets, this CALIBRATES): rows bucketed into ``n_bins`` score
    deciles (the :func:`~..operators.relational.exact_ntile` bucketed
    two-pass — never an unpartitioned ntile sort), and per bucket the
    MEAN min-max-normalized score (predicted rate) against the
    observed positive rate, plus their gap — the number that says
    whether a score of 0.9 actually means 90%.

    Exactness: scores normalize to [0, 1] against the corpus min/max
    (1-row broadcast of exact integer bounds); per-bucket Σscore and
    counts are exact BIGINTs; predicted/observed/gap are single
    divisions of exact integers, IEEE-identical on both engines.
    Returns ``(bucket, n, n_pos, avg_score_norm, obs_rate,
    calib_gap)`` — gap = predicted − observed, positive means the
    score OVERSTATES the outcome in that bucket.
    """
    base = df.select(
        score_col.cast("long").alias("__s"),
        id_col.alias("__id"),
        label_col.cast("long").alias("is_pos"),
    )
    bounds = base.agg(
        F.min("__s").alias("s_lo"), F.max("__s").alias("s_hi")
    )
    binned = exact_ntile(
        base.join(F.broadcast(bounds)),
        n_bins,
        F.col("__s"),
        F.col("__id"),
        ascending=True,
        out_col="bucket",
    )
    per = binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("is_pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.sum(F.col("__s") - F.col("s_lo")).cast("decimal(38,0)").alias("ds"),
        F.max(F.col("s_hi") - F.col("s_lo")).cast("long").alias("rng"),
    )
    pred = F.try_divide(
        F.col("ds").cast("double"),
        F.nullif((F.col("n") * F.col("rng")).cast("double"), F.lit(0.0)),
    )
    obs = F.try_divide(
        F.col("n_pos").cast("double"),
        F.nullif(F.col("n").cast("double"), F.lit(0.0)),
    )
    return per.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n",
        "n_pos",
        F.round(pred, 6).alias("avg_score_norm"),
        F.round(obs, 6).alias("obs_rate"),
        F.round(pred - obs, 6).alias("calib_gap"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups — the
    parametric companion to :func:`mannwhitney_u` (that one asks
    "does one distribution dominate", this one "do the MEANS differ"
    without pooling variances — the default recommendation over
    Student's t since group variances are never equal in practice),
    with the Welch–Satterthwaite effective degrees of freedom.

    Exactness: values quantize to cents; per-group n, Σx, Σx² are
    exact integers (Σx² in DECIMAL(38,0) — cents² overflows BIGINT at
    ~3e9 rows of 100-dollar values); means, variances
    s² = (Σx² − (Σx)²/n)/(n−1), the t statistic and the WS df are
    computed in DOUBLE over those exact sums in a fixed expression
    order, IEEE-identical on both engines.  Degenerate inputs
    (a group with n < 2, or both variances zero) are NULL via
    try_divide/nullif, not an ANSI error.

    Scale shape: ONE partial-agged global aggregate carrying six
    conditional sums, no window, no join.
    Returns one row ``(n_a, n_b, mean_a, mean_b, t_stat, df_ws)``.
    """
    is_a = F.col(group_col) == group_a
    cents = _cents(value_col)
    two = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        is_a.alias("a"), cents.alias("x")
    )
    g = two.groupBy().agg(
        F.coalesce(F.sum(F.when(F.col("a"), 1)), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.sum(F.when(~F.col("a"), 1)), F.lit(0)).cast("long").alias("nb"),
        F.coalesce(F.sum(F.when(F.col("a"), F.col("x"))), F.lit(0))
        .cast("long")
        .alias("sa"),
        F.coalesce(F.sum(F.when(~F.col("a"), F.col("x"))), F.lit(0))
        .cast("long")
        .alias("sb"),
        F.coalesce(
            F.sum(F.when(F.col("a"), F.col("x").cast("decimal(19,0)") * F.col("x"))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("qa"),
        F.coalesce(
            F.sum(F.when(~F.col("a"), F.col("x").cast("decimal(19,0)") * F.col("x"))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("qb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    mean_a, mean_b = sa / F.nullif(na, F.lit(0.0)), sb / F.nullif(nb, F.lit(0.0))
    va = (qa - sa * sa / F.nullif(na, F.lit(0.0))) / F.nullif(na - 1, F.lit(0.0))
    vb = (qb - sb * sb / F.nullif(nb, F.lit(0.0))) / F.nullif(nb - 1, F.lit(0.0))
    ua, ub = va / F.nullif(na, F.lit(0.0)), vb / F.nullif(nb, F.lit(0.0))
    t = F.try_divide(mean_a - mean_b, F.nullif(F.sqrt(ua + ub), F.lit(0.0)))
    df_ws = F.try_divide(
        (ua + ub) * (ua + ub),
        F.nullif(
            ua * ua / F.nullif(na - 1, F.lit(0.0))
            + ub * ub / F.nullif(nb - 1, F.lit(0.0)),
            F.lit(0.0),
        ),
    )
    return g.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(mean_a / 100.0, 6).alias("mean_a"),
        F.round(mean_b / 100.0, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_ws, 6).alias("df_ws"),
    )


def growth_accounting(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Monthly growth-accounting bridge — the MAU waterfall every
    growth team reports: each month's actives split into NEW (first
    month ever), RETAINED (active last month too), and RESURRECTED
    (active before, but not last month), plus CHURNED (last month's
    actives who went silent) — so that
    ``mau = new + retained + resurrected`` and
    ``mau − prev_mau = new + resurrected − churned`` hold exactly.

    Exactness & shape: one distinct (user, month) pass (bounded
    fan-out), one user-partition window derives first-month and
    gap-to-previous-active-month per row (no self-join), a month-domain
    rollup of exact BIGINTs; churned attributes month m's silent users
    via lead() — the (user, month+1) absence test — inside the same
    window pass.  The month domain is DENSIFIED (sequence over the
    1-row min/max aggregate) before the churn lag, so a calendar month
    with zero actives still appears (mau = 0) and the users who went
    silent before the gap are churned INTO the gap month — without
    this the lag skips absent rows and the bridge identity
    Δmau = new + resurrected − churned breaks across the gap (the
    round-9 advice finding).  Quick-ratio is the single final
    division.  Returns ``(m, mau, n_new, n_retained, n_resurrected,
    n_churned, quick_ratio)`` for EVERY month in [min, max].
    """
    um = events.select(
        F.col(user_col).alias("u"),
        (F.year(ts_col) * 12 + F.month(ts_col)).cast("long").alias("m"),
    ).distinct()
    wu = Window.partitionBy("u").orderBy("m")
    flagged = um.select(
        "u",
        "m",
        F.lag("m").over(wu).alias("prev_m"),
        F.lead("m").over(wu).alias("next_m"),
        F.min("m").over(Window.partitionBy("u")).alias("first_m"),
    )
    status = flagged.select(
        "m",
        F.when(F.col("m") == F.col("first_m"), F.lit("new"))
        .when(F.col("prev_m") == F.col("m") - 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("st"),
        # this user churns AFTER month m if their next active month
        # is not m+1 (or never comes)
        (
            F.col("next_m").isNull() | (F.col("next_m") != F.col("m") + 1)
        ).cast("long").alias("churns_after"),
    )
    per_m = status.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("mau"),
        F.sum((F.col("st") == "new").cast("long")).cast("long").alias("n_new"),
        F.sum((F.col("st") == "retained").cast("long")).cast("long").alias("n_retained"),
        F.sum((F.col("st") == "resurrected").cast("long"))
        .cast("long")
        .alias("n_resurrected"),
        F.sum("churns_after").cast("long").alias("churn_next"),
    )
    dom = um.agg(F.min("m").alias("lo"), F.max("m").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("m")
    )
    dense = dom.join(per_m, "m", "left").select(
        "m",
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in ("mau", "n_new", "n_retained", "n_resurrected", "churn_next")
        ],
    )
    wm = Window.orderBy("m")
    out = dense.select(
        "m",
        "mau",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.lag("churn_next").over(wm), F.lit(0))
        .cast("long")
        .alias("n_churned"),
    )
    return out.select(
        "m",
        "mau",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_churned",
        F.round(
            F.try_divide(
                (F.col("n_new") + F.col("n_resurrected")).cast("double"),
                F.nullif(F.col("n_churned").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("quick_ratio"),
    )


def diff_in_diff(events: DataFrame) -> DataFrame:
    """Difference-in-differences estimator on the parity split with
    the corpus-midpoint period boundary (:func:`cuped_adjust`'s
    layout): DiD = (ȳ_B,post − ȳ_B,pre) − (ȳ_A,post − ȳ_A,pre) — the
    canonical causal read when arm B receives a treatment at the
    period boundary and arm A is the control; the pre-period
    difference nets out fixed between-group gaps a naive post-only
    comparison misattributes.

    Exactness: the four cell sums and counts are exact cent BIGINTs
    from ONE per-user partial-agged groupBy + one global aggregate
    (the CUPED moment shape without the cross products); each cell
    mean divides once; degenerate arms are NULL via try_divide.
    Returns one row ``(n_a, n_b, pre_a, pre_b, post_a, post_b,
    did)`` — means in dollars, 6 dp.
    """
    per_user, arm_sums = _parity_pre_post_sums(events, "user_id", "ts", "value")
    g = per_user.groupBy().agg(*arm_sums)

    def mean(s, cnt):
        return F.try_divide(
            F.col(s).cast("double") / 100.0,
            F.nullif(F.col(cnt).cast("double"), F.lit(0.0)),
        )

    pre_a, pre_b = mean("sxa", "n_a"), mean("sxb", "n_b")
    post_a, post_b = mean("sya", "n_a"), mean("syb", "n_b")
    return g.select(
        "n_a",
        "n_b",
        F.round(pre_a, 6).alias("pre_a"),
        F.round(pre_b, 6).alias("pre_b"),
        F.round(post_a, 6).alias("post_a"),
        F.round(post_b, 6).alias("post_b"),
        F.round((post_b - pre_b) - (post_a - pre_a), 6).alias("did"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cramér's V effect size for a categorical association —
    :func:`chisq_independence` gives significance (which saturates at
    corpus scale: EVERYTHING is significant at n = 10⁹), V gives
    MAGNITUDE on a fixed 0–1 scale, V = √(χ²/(n·(min(R,C)−1))) — the
    number you can actually compare across tables and scales.

    Same exact-integer contingency machinery as chisq (one shuffle to
    the R×C table, broadcast margins, the expanded (O·N − r·c)²/(r·c·N)
    form); the V closed form adds one division and square root.
    try_divide NULLs the degenerate single-level cases.  Returns one
    row ``(n, r_levels, c_levels, chi2, cramers_v)``.
    """
    base = chisq_independence(df, col_a, col_b)
    k = F.least(F.col("r_levels"), F.col("c_levels")) - 1
    v = F.sqrt(
        F.try_divide(
            F.col("chi2"), F.nullif((F.col("n") * k).cast("double"), F.lit(0.0))
        )
    )
    return base.select(
        "n", "r_levels", "c_levels", "chi2", F.round(v, 6).alias("cramers_v")
    )


def durbin_watson(
    series: DataFrame,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic on a daily
    series' deviations from its mean — the classic residual check
    (DW ≈ 2 = uncorrelated, → 0 = positive autocorrelation / trending,
    → 4 = alternating) run alongside :func:`runs_test` before trusting
    an i.i.d. assumption.

    Exactness through the n-scaling trick: the residual e_t = x_t − x̄
    is rational, but n·e_t = n·x_t − Σx is an exact BIGINT, and the n²
    factor CANCELS in DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² — so both sums accumulate
    as exact integers (Σ(n·Δe)² ≤ n³·maxΔ² — BIGINT-safe for day-domain
    series) and the statistic is one final division.  One 1-row sum
    broadcast + one lag window over the day domain.  Returns one row
    ``(n, dw)`` (NULL for constant or < 2-point series).
    """
    v = F.col(value_col).cast("long")
    tot = series.agg(
        F.coalesce(F.sum(v), F.lit(0)).cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # ne and its squares accumulate in DECIMAL(38,0): ne ~ n·value, so
    # a BIGINT ne² wraps at only ~2400 days × 1e6-cent deviations —
    # the neyman/cuped HUGEINT-parity discipline applies here too
    scaled = series.join(F.broadcast(tot)).select(
        F.col("n"),
        F.col(date_col).alias("d"),
        (
            F.col("n").cast("decimal(19,0)") * v.cast("decimal(19,0)")
            - F.col("s").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("ne"),
    )
    wd = Window.orderBy("d")
    lagged = scaled.select(
        "n", "ne", F.lag("ne").over(wd).alias("prev")
    )
    g = lagged.groupBy().agg(
        F.max("n").alias("n"),
        F.coalesce(
            F.sum(F.col("ne") * F.col("ne")), F.lit(0).cast("decimal(38,0)")
        ).alias("den"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("prev").isNotNull(),
                    (F.col("ne") - F.col("prev")) * (F.col("ne") - F.col("prev")),
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("num"),
    )
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            F.try_divide(
                F.col("num").cast("double"),
                F.nullif(F.col("den").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("dw"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F-test: does the mean of a numeric metric differ
    across k groups — the multi-arm generalization of
    :func:`welch_ttest` (equal-variance, k-sample form), the test of
    record for "did ANY of these five treatments move the metric"
    before pairwise drill-downs.

    Exactness: values quantize to cents; the three sufficient
    statistics are exact integers — per-group ``(n_g, s_g=Σv)`` as
    BIGINT and the global ``Q=Σv²`` as DECIMAL(38,0) (v² alone can
    reach ~4e14, so the sum wraps int64 at ~20k rows; decimal keeps it
    exact AND partial-agg-order-independent).  The float stage is three
    correctly-rounded expressions over those exact ints —
    ``A = Σ_g s_g²/n_g`` (k terms, each deterministic; k-term ordering
    slack ~1 ulp), ``SSB = A − S²/N``, ``SSW = Q − A`` — then one
    division for F.  ``try_divide``/``nullif`` make k<2 or a
    zero-variance corpus NULL, not an error.

    Scale shape: ONE partial-agged groupBy to the k-row group table
    (carrying the decimal Σv² alongside), one k-row rollup.  No
    windows, no joins, nothing row-count-sized past the first combine.
    Returns one row ``(n, k_groups, df_between, df_within, f_stat,
    eta_sq)``.
    """
    cents = _cents(value_col)
    per_g = df.select(F.col(group_col).alias("g"), cents.alias("v")).groupBy(
        "g"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s_g"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("q_g"),
    )
    roll, f_stat, ssb, ssw = _one_way_f(per_g)
    eta = F.try_divide(ssb, F.nullif(ssb + ssw, F.lit(0.0)))
    return roll.select(
        "n",
        F.col("k").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(eta, 6).alias("eta_sq"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test: the k-group generalization of
    :func:`mannwhitney_u` — do ANY of the k groups' value
    distributions stochastically differ, with no normality assumption
    (for k=2 the tie-corrected H is exactly z² of the rank-sum test,
    pinned by a property test).

    Exactness: values quantize to cents; rows collapse to the DISTINCT
    (group, value) count table, then the value-domain table ``(v, t)``,
    and the doubled average rank ``2r_v`` of :func:`_doubled_ranks`
    makes every per-group rank sum ``2R_g = Σ c_gv·2r_v`` an exact
    BIGINT.  The float stage is ``Σ_g (2R_g)²/n_g`` (k deterministic
    terms), the H line, and the tie correction ``1 − Σ(t³−t)/(N³−N)``
    — each a correctly-rounded expression over exact ints; an all-tied
    corpus or a single row nulls out via ``nullif``/``try_divide``
    instead of dividing by zero.

    Scale shape: groupBy to the (g,v) domain, groupBy to the v domain,
    :func:`_doubled_ranks`'s bucketed cumulative counts (the
    plan-hygiene guard rejects both the naive row-level rank and a
    non-reducing aggregate funnel), one equi-join back on v, one k-row
    rollup.
    Returns one row ``(n, k_groups, h_stat)``.
    """
    cents = _cents(value_col)
    gv = df.select(F.col(group_col).alias("g"), cents.alias("v")).groupBy(
        "g", "v"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_v = gv.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    per_g = gv.join(_doubled_ranks(per_v, "v"), "v").groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.col("c") * F.col("r2")).cast("long").alias("r2g"),
    )
    ties = per_v.groupBy().agg(_tie3())
    roll = per_g.groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.col("r2g").cast("double") * F.col("r2g") / F.col("n_g")
        ).alias("srn"),
    ).join(F.broadcast(ties))
    n = F.col("n").cast("double")
    # H = 12/(N(N+1))·ΣR²/n − 3(N+1) with R=r2g/2 ⇒ 3/(N(N+1))·Σ(2R)²/n
    h_raw = 3.0 / (n * (n + 1.0)) * F.col("srn") - 3.0 * (n + 1.0)
    corr = 1.0 - F.try_divide(F.col("tie3").cast("double"), n * n * n - n)
    h = F.try_divide(h_raw, F.nullif(corr, F.lit(0.0)))
    return roll.select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(h, 6).alias("h_stat"),
    )


def levene_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe test of variance homogeneity (Levene with
    median centers — the robust form every stats package defaults to):
    are the k groups' SPREADS equal — the precondition check for
    :func:`anova_oneway`'s pooled-variance assumption, and a drift
    monitor in its own right (a treatment that doesn't move the mean
    but widens the tails fails this, not the t-test).

    Exactness: per-group DOUBLED medians come from cumulative counts
    over the per-group value domain — ``2m_g = lo + hi`` where lo/hi
    are the ceil(n/2)-th and (floor(n/2)+1)-th order statistics read
    off the cumulative table (integers, no float interpolation
    disagreement between engines); the deviations ``z = |2v − 2m_g|``
    are then exact BIGINTs in doubled-cent units, and the F statistic
    of the one-way ANOVA on z is SCALE-INVARIANT, so the doubling
    cancels.  Weighted sufficient statistics (Σcz, Σcz² as
    DECIMAL(38,0)) ride the (g,v,c) table — never re-expanded to rows.

    Scale shape: one groupBy to the (g,v) domain; cumulative counts
    via :func:`~.relational.bucketed_cum_counts` partitioned by group
    — with FEW groups a per-group window funnels each group's whole
    (near-row-cardinality, for continuous metrics) value domain
    through one task, so the ordered pass range-buckets WITHIN each
    group and ranks per (group, bucket); one broadcast of the k-row
    median table; one k-row rollup.
    Returns one row ``(n, k_groups, w_stat)``.
    """
    cents = _cents(value_col)
    gv = df.select(F.col(group_col).alias("g"), cents.alias("v")).groupBy(
        "g", "v"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = bucketed_cum_counts(
        gv, "v", [("c", "cum")], partition_cols=["g"]
    )
    per_g_n = gv.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    j = cum.join(F.broadcast(per_g_n), "g")
    lo = j.filter(
        F.col("cum") >= F.expr("(n_g + 1) div 2")
    ).groupBy("g").agg(F.min("v").alias("lo"))
    hi = j.filter(
        F.col("cum") >= F.expr("n_g div 2") + 1
    ).groupBy("g").agg(F.min("v").alias("hi"))
    med2 = lo.join(hi, "g").select(
        "g", (F.col("lo") + F.col("hi")).cast("long").alias("m2")
    )
    z = F.abs(2 * F.col("v") - F.col("m2")).cast("long")
    per_g = gv.join(F.broadcast(med2), "g").groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.col("c") * z).cast("long").alias("s_g"),
        F.sum(F.col("c").cast("decimal(38,0)") * z * z).alias("q_g"),
    )
    roll, w = _one_way_f(per_g)[:2]
    return roll.select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(w, 6).alias("w_stat"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    flag_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test: is a binary outcome's rate
    MONOTONICALLY associated with an ordered exposure level — the
    dose-response sibling of :func:`chisq_independence` (chi-square
    asks "associated at all?"; this asks "trending with the order?",
    e.g. does conversion rise with plan tier, does dup rate rise with
    crawl depth).

    Exactness: per-level ``(s_i, n_i, r_i)`` — integer score, total,
    and positive count — are exact BIGINTs from one groupBy; the
    numerator is carried N-SCALED, ``T·N = Σ s_i(r_i·N − n_i·R)``, an
    exact BIGINT identity that defers every division to the final
    z expression ``z = (T·N/N) / sqrt(p(1−p)·(Σns² − (Σns)²/N))``,
    a single correctly-rounded double pipeline both engines share.
    A one-level or all-positive/all-negative input nulls out via
    ``try_divide``/``nullif``.

    Scale shape: one partial-agged groupBy to the k-row level table,
    one k-row rollup with the 1-row margins broadcast on.  Returns one
    row ``(n, k_levels, z_stat)``.
    """
    lvl = df.select(
        F.col(score_col).cast("long").alias("s_i"),
        F.col(flag_col).cast("long").alias("f"),
    ).groupBy("s_i").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.coalesce(F.sum("f"), F.lit(0)).cast("long").alias("r_i"),
    )
    marg = lvl.groupBy().agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = lvl.join(F.broadcast(marg))
    roll = j.groupBy().agg(
        F.max("n").alias("n"),
        F.max("r").alias("r"),
        F.max("k").alias("k"),
        # r_i·N alone reaches N² — wraps int64 past ~3e9 rows; the
        # DECIMAL(38,0) carry keeps the N-scaled numerator exact (and
        # partial-agg-order-independent) to 1e38
        F.sum(
            F.col("s_i").cast("decimal(38,0)")
            * (
                F.col("r_i").cast("decimal(38,0)") * F.col("n")
                - F.col("n_i").cast("decimal(38,0)") * F.col("r")
            )
        ).alias("tn"),
        F.sum(F.col("n_i") * F.col("s_i") * F.col("s_i")).cast("long").alias("ns2"),
        F.sum(F.col("n_i") * F.col("s_i")).cast("long").alias("ns1"),
    )
    n = F.col("n").cast("double")
    p = F.col("r").cast("double") / n
    var = p * (1.0 - p) * (
        F.col("ns2").cast("double")
        - F.col("ns1").cast("double") * F.col("ns1") / n
    )
    z = F.try_divide(
        F.col("tn").cast("double") / n,
        F.nullif(F.sqrt(var), F.lit(0.0)),
    )
    return roll.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_levels"),
        F.round(z, 6).alias("z_stat"),
    )


def power_sample_size(events: DataFrame) -> DataFrame:
    """Two-proportion power analysis on the observed experiment: given
    the parity A/B split's measured conversion rates (:func:`ab_test`'s
    cells), the required per-arm sample size to detect the OBSERVED
    lift at α=0.05 / power 0.80 —
    ``n = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/(p₁−p₂)²`` — plus the minimum
    detectable effect at the CURRENT size (the same identity solved
    for Δ).  The planning readout every experiment review asks for:
    "is this test even powered to see what it claims to see?".

    Exactness: per-arm user and converter counts are exact BIGINTs
    from one groupBy (a user converts if ANY event matches — max of
    indicator, not count); z constants are fixed literals (1.959964,
    0.841621 — the same two both engines print for Φ⁻¹(0.975),
    Φ⁻¹(0.80)), so the float stage is one shared expression over exact
    ints.  A zero observed lift nulls the required-n via ``nullif``
    rather than dividing by zero.

    Scale shape: one partial-agged groupBy(user) to the user domain,
    one groupBy(arm) to 2 rows, one 2-row pivot rollup.  Returns one
    row ``(n_a, n_b, p_a, p_b, n_required_per_arm, mde_at_current_n)``.
    """
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv")
    )
    arm = per_user.select(
        (F.col("u") % 2 == 0).cast("long").alias("is_a"), "conv"
    ).groupBy("is_a").agg(
        F.count(F.lit(1)).cast("long").alias("n_u"),
        F.coalesce(F.sum("conv"), F.lit(0)).cast("long").alias("c_u"),
    )
    roll = arm.groupBy().agg(
        F.max(F.when(F.col("is_a") == 1, F.col("n_u"))).alias("n_a"),
        F.max(F.when(F.col("is_a") == 0, F.col("n_u"))).alias("n_b"),
        F.max(F.when(F.col("is_a") == 1, F.col("c_u"))).alias("c_a"),
        F.max(F.when(F.col("is_a") == 0, F.col("c_u"))).alias("c_b"),
    )
    z_sum = 1.959964 + 0.841621  # Φ⁻¹(0.975) + Φ⁻¹(0.80), fixed literals
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    pq = p_a * (1.0 - p_a) + p_b * (1.0 - p_b)
    delta = p_a - p_b
    n_req = F.ceil(
        F.try_divide(z_sum * z_sum * pq, F.nullif(delta * delta, F.lit(0.0)))
    ).cast("long")
    # MDE at the current (harmonic-mean) per-arm size
    n_harm = F.try_divide(
        2.0 * F.col("n_a") * F.col("n_b"),
        F.nullif((F.col("n_a") + F.col("n_b")).cast("double"), F.lit(0.0)),
    )
    mde = F.sqrt(F.try_divide(z_sum * z_sum * pq, F.nullif(n_harm, F.lit(0.0))))
    return roll.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        n_req.alias("n_required_per_arm"),
        F.round(mde, 6).alias("mde_at_current_n"),
    )


def forecast_baseline(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Seasonal-naive forecast backtest over the daily series: predict
    each day with the value 7 days EARLIER and score the
    baseline with MASE (mean |error| scaled by the in-sample naive-1
    |step|) and sMAPE — the two scale-free accuracy numbers every
    forecasting bake-off reports first, and the floor any real model
    must beat before it ships.

    Exactness: daily values are exact cent BIGINTs from one groupBy;
    the seasonal forecast joins on the EXACT calendar date −7
    (an equi-join — a row-offset lag silently mispredicts across gap
    days); absolute errors and the naive-1 denominator are exact
    BIGINTs; sMAPE's per-day ratio and the two final divisions are the
    only float ops.  An all-constant or too-short series nulls out via
    ``try_divide``/``nullif``.

    Scale shape: one partial-agged groupBy to the day domain, ONE
    self-equi-join on the shifted date, one ordered lag window over
    the AGGREGATED day table (calendar-bounded) for the naive-1
    denominator, one 1-row rollup.  Returns
    ``(n_days, n_forecast, mase, smape)``.
    """
    cents = _cents(value_col)
    daily = df.groupBy(F.to_date(ts_col).alias("d")).agg(
        F.sum(cents).cast("long").alias("v")
    )
    wd = Window.orderBy("d")
    with_prev = daily.select(
        "d", "v", F.lag("v").over(wd).alias("prev")
    )
    fc = daily.select(
        F.date_add(F.col("d"), 7).alias("d"), F.col("v").alias("yhat")
    )
    joined = with_prev.join(fc, "d", "left")
    err = F.abs(F.col("v") - F.col("yhat"))
    smape_term = F.try_divide(
        2.0 * err.cast("double"),
        F.nullif((F.abs(F.col("v")) + F.abs(F.col("yhat"))).cast("double"), F.lit(0.0)),
    )
    roll = joined.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count("yhat").cast("long").alias("n_forecast"),
        F.coalesce(F.sum(err), F.lit(0)).cast("long").alias("sum_err"),
        F.coalesce(F.sum(smape_term), F.lit(0.0)).alias("sum_smape"),
        F.coalesce(
            F.sum(F.abs(F.col("v") - F.col("prev"))), F.lit(0)
        ).cast("long").alias("sum_naive"),
        F.count("prev").cast("long").alias("n_naive"),
    )
    mae = F.try_divide(
        F.col("sum_err").cast("double"),
        F.nullif(F.col("n_forecast").cast("double"), F.lit(0.0)),
    )
    naive_mae = F.try_divide(
        F.col("sum_naive").cast("double"),
        F.nullif(F.col("n_naive").cast("double"), F.lit(0.0)),
    )
    return roll.select(
        "n_days",
        "n_forecast",
        F.round(F.try_divide(mae, F.nullif(naive_mae, F.lit(0.0))), 6).alias("mase"),
        F.round(
            F.try_divide(
                F.col("sum_smape"),
                F.nullif(F.col("n_forecast").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("smape"),
    )


def delta_method_ratio(events: DataFrame) -> DataFrame:
    """Ratio-metric A/B readout with delta-method standard errors:
    the metric is value-per-EVENT aggregated per USER (Σx_i/Σy_i over
    the arm), whose naive per-event variance is WRONG because events
    within a user correlate — the delta method (the linearization
    every experimentation platform ships for ratio metrics) gives the
    asymptotically correct SE from per-user moment sums.

    Exactness: per-user ``(x_i, y_i)`` are exact cent/count BIGINTs;
    per-arm ``(n, Sx, Sy)`` are BIGINT and the quadratic moments
    ``(Sxx, Sxy, Syy)`` DECIMAL(38,0); R = Sx/Sy and the residual
    variance ``s² = (Sxx − 2R·Sxy + R²·Syy)/(n−1)`` (exact-zero mean
    residual by construction) are one shared float pipeline;
    ``var(R) = n·s²/Sy²``.  Degenerate arms null via ``try_divide``.

    Scale shape: one partial-agged groupBy(user) to the user domain,
    one groupBy(arm) to 2 rows, one 2-row pivot rollup.  Returns one
    row ``(n_a, n_b, ratio_a, ratio_b, diff, z_stat)``.
    """
    cents = _cents("value")
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(cents).cast("long").alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    )
    arm = per_user.select(
        (F.col("u") % 2 == 0).cast("long").alias("is_a"), "x", "y"
    ).groupBy("is_a").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    r = F.try_divide(
        F.col("sx").cast("double"), F.nullif(F.col("sy").cast("double"), F.lit(0.0))
    )
    s2 = F.try_divide(
        F.col("sxx").cast("double")
        - 2.0 * r * F.col("sxy").cast("double")
        + r * r * F.col("syy").cast("double"),
        F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0)),
    )
    var_r = F.try_divide(
        F.col("n").cast("double") * s2,
        F.nullif(F.col("sy").cast("double") * F.col("sy"), F.lit(0.0)),
    )
    per_arm = arm.select("is_a", "n", r.alias("r"), var_r.alias("var_r"))
    roll = per_arm.groupBy().agg(
        F.max(F.when(F.col("is_a") == 1, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("is_a") == 0, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("is_a") == 1, F.col("r"))).alias("r_a"),
        F.max(F.when(F.col("is_a") == 0, F.col("r"))).alias("r_b"),
        F.max(F.when(F.col("is_a") == 1, F.col("var_r"))).alias("va"),
        F.max(F.when(F.col("is_a") == 0, F.col("var_r"))).alias("vb"),
    )
    diff = F.col("r_a") - F.col("r_b")
    z = F.try_divide(
        diff, F.nullif(F.sqrt(F.col("va") + F.col("vb")), F.lit(0.0))
    )
    return roll.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("r_a") / 100.0, 6).alias("ratio_a"),
        F.round(F.col("r_b") / 100.0, 6).alias("ratio_b"),
        F.round(diff / 100.0, 6).alias("diff"),
        F.round(z, 6).alias("z_stat"),
    )


def bh_significance(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Benjamini-Hochberg FDR screen over a FAMILY of per-segment
    two-proportion tests — the multiple-comparisons step every
    segment-drilldown dashboard skips at its peril: with k segments at
    α=0.05, ~k/20 "significant" segments are noise; BH controls the
    expected false-discovery rate across the whole family.

    The per-segment test: is the segment's rate of ABOVE-GLOBAL-MEAN
    values different from the complement's?  The high flag compares
    ``v·N > S`` in exact integers (no float mean), the pooled
    two-proportion z comes from exact BIGINT cell counts, and the
    two-sided p uses the Abramowitz-Stegun 7.1.26 erf polynomial
    (max err 1.5e-7) — an APPROXIMATION to Φ, but a deterministic
    closed form both engines evaluate identically, which is what the
    hash gate needs (neither Spark nor DuckDB ships erf).
    ``p = poly(t)·exp(−x²)`` with ``x = |z|/√2`` IS the two-sided
    p-value directly.

    BH step-up: rank the k p-values ascending, find the largest rank
    with ``p ≤ rank·α/k``, everything at or below that rank is
    significant.  Scale shape: one partial-agged groupBy to the
    segment domain, 1-row margins broadcast on, then the rank window
    and the max-hit attach run over the K-ROW segment table — the
    family size, never the row count.  Returns per segment
    ``(grp, n, n_high, z_stat, p_value, bh_rank, significant)``.
    """
    cents = _cents(value_col)
    base = df.select(F.col(group_col).alias("grp"), cents.alias("v"))
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        # cast INSIDE the sum: a BIGINT accumulation can silently wrap
        # int64 before an outer decimal cast, while the DuckDB oracle
        # sums in HUGEINT (the cochran_armitage/anova_oneway carry)
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s_tot"),
    )
    flagged = base.join(F.broadcast(tot)).select(
        "grp",
        "n_tot",
        (F.col("v").cast("decimal(38,0)") * F.col("n_tot") > F.col("s_tot"))
        .cast("long")
        .alias("hi"),
    )
    per_g = flagged.groupBy("grp").agg(
        F.max("n_tot").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.coalesce(F.sum("hi"), F.lit(0)).cast("long").alias("k_g"),
    )
    k_tot = per_g.agg(F.sum("k_g").cast("long").alias("k_tot"))
    cells = per_g.join(F.broadcast(k_tot))
    n_r = F.col("n_tot") - F.col("n_g")
    k_r = F.col("k_tot") - F.col("k_g")
    p_pool = F.col("k_tot").cast("double") / F.col("n_tot")
    diff = F.col("k_g").cast("double") / F.col("n_g") - F.try_divide(
        k_r.cast("double"), F.nullif(n_r.cast("double"), F.lit(0.0))
    )
    se = F.sqrt(
        p_pool
        * (1.0 - p_pool)
        * (
            1.0 / F.col("n_g")
            + F.try_divide(F.lit(1.0), F.nullif(n_r.cast("double"), F.lit(0.0)))
        )
    )
    z = F.try_divide(diff, F.nullif(se, F.lit(0.0)))
    # two-sided p = 1 − erf(|z|/√2) = poly(t)·exp(−x²), A&S 7.1.26
    x = F.abs(z) / F.lit(1.4142135623730951)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    p_val = poly * F.exp(-(x * x))
    scored = cells.select(
        "grp",
        F.col("n_g").alias("n"),
        F.col("k_g").alias("n_high"),
        F.round(z, 6).alias("z_stat"),
        p_val.alias("p_raw"),
    )
    wr = Window.orderBy("p_raw", "grp")
    m = Window.partitionBy()  # k-row family: whole-table max is domain-sized
    ranked = scored.select(
        "grp",
        "n",
        "n_high",
        "z_stat",
        "p_raw",
        F.row_number().over(wr).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(m).cast("long").alias("m"),
    )
    hit = F.when(
        F.col("p_raw") <= F.col("bh_rank") * F.lit(0.05) / F.col("m"),
        F.col("bh_rank"),
    )
    with_max = ranked.select(
        "*", F.max(hit).over(m).alias("max_hit")
    )
    return with_max.select(
        "grp",
        "n",
        "n_high",
        "z_stat",
        F.round(F.col("p_raw"), 6).alias("p_value"),
        "bh_rank",
        F.when(
            F.col("max_hit").isNotNull() & (F.col("bh_rank") <= F.col("max_hit")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("significant"),
    ).orderBy("bh_rank")


def hll_rollup(events: DataFrame) -> DataFrame:
    """Mergeable-sketch rollup: per-DAY HyperLogLog sketches of the
    user set, re-aggregated into per-WEEK distinct-user estimates by
    UNIONING THE SKETCHES — never re-touching the raw rows.  This is
    the pattern that makes distinct counts tractable at 100 TB: the
    expensive pass materializes one ~2^12-byte sketch per day
    (normally persisted to the lake), and every coarser rollup —
    weeks, months, arbitrary date ranges, the whole corpus — is a
    byte-level register-max merge of those sketches
    (``hll_union_agg``), milliseconds instead of a rescan.  A plain
    ``approx_count_distinct`` per week would re-shuffle the raw rows
    once per granularity.

    Apache-DataSketches HLL is order-independent (register max), so
    the estimates are DETERMINISTIC for a given input and lg_k=12 — the
    output is stable across partial-agg orders — but DuckDB's
    approx_count_distinct is a different sketch, so the driver gate is
    rows-only by design; the accuracy pin (estimate within 4% of
    exact, the 3σ bound for lg_k=12) lives in
    tests/test_round10_ops.py.

    Scale shape: one partial-agged groupBy(day) carrying sketch
    BINARYs (map-side sketch build — rows never cross the wire, the
    sketches do), one groupBy(week) over the DAY-DOMAIN sketch table,
    plus a 1-row all-time union from the same day table.  Returns per
    week ``(week, n_days, est_users)`` plus a ``week = NULL`` all-time
    row, ordered with the all-time row last.
    """
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("sk")
    )
    weekly = daily.groupBy(F.date_trunc("week", F.col("d")).cast("date").alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.hll_sketch_estimate(F.hll_union_agg(F.col("sk")))).cast("long").alias("est_users"),
    )
    alltime = daily.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.hll_sketch_estimate(F.hll_union_agg(F.col("sk")))).cast("long").alias("est_users"),
    ).select(F.lit(None).cast("date").alias("week"), "n_days", "est_users")
    return weekly.unionByName(alltime).orderBy(F.col("week").asc_nulls_last())


def quantile_rollup(events: DataFrame) -> DataFrame:
    """Mergeable QUANTILE rollup — the percentile sibling of
    :func:`hll_rollup`, completing the sketch-rollup posture a 100 TB
    metrics layer needs (distinct counts AND latency/value
    percentiles re-aggregated per period without rescanning raw rows).

    The expensive pass builds one bounded summary per DAY: an
    100-point equi-spaced percentile grid from Spark's
    Greenwald–Khanna ``percentile_approx`` (per-value rank error
    ≤ n_d/10000) plus the exact day count — the summary a lake
    would persist next to the day's HLL sketch.  Every coarser
    period — weeks, the whole corpus — then MERGES grids only: each
    grid point carries mass ``n_d/100``, the pooled points are
    rank-scanned per period (a window over the day-domain × 100
    table — calendar-bounded, never row-bounded), and p50/p95/p99 are
    the smallest pooled values covering the target mass.  Pooled rank
    error ≤ N/(2·100) + Σn_d/10000 — ~0.6 % of rank at the
    defaults, pinned against exact percentiles in
    tests/test_round11_ops.py (the hll_rollup 3σ-pin pattern).

    The mass bookkeeping is exact-integer: point mass is the BIGINT
    ``n_d`` (per-period total is then ``100·N``), and the
    percentile conditions compare ``100·cum ≥ k·tot`` — no float
    ranks.  GK summaries are a different sketch family than DuckDB's
    approx quantiles, so the driver gate is rows-only by design, like
    hll_rollup.

    Scale shape: ONE partial-agged groupBy(day) over raw rows (GK
    buffers bounded by the accuracy 10000, never by the value domain), then
    every rollup touches only the day×100 grid table.  Returns per
    week ``(week, n_rows, p50, p95, p99)`` plus a ``week = NULL``
    all-time row, ordered with the all-time row last.
    """
    cents = _cents("value")
    probs = lit_double_array([(i + 0.5) / 100 for i in range(100)])
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.percentile_approx(cents, probs, F.lit(10_000)).alias("qs"),
    )
    pts = daily.select("d", "n_d", F.posexplode("qs").alias("idx", "q"))

    def _ranked(points: DataFrame, *part_cols: str) -> DataFrame:
        w_cum = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col("q").asc(), F.col("d").asc(), F.col("idx").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_tot = Window.partitionBy(*part_cols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = points.select(
            *part_cols,
            "q",
            F.sum("n_d").over(w_cum).cast("long").alias("cum"),
            F.sum("n_d").over(w_tot).cast("long").alias("tot"),
        )

        def pick(k: int) -> Column:
            return F.min(
                F.when(100 * F.col("cum") >= k * F.col("tot"), F.col("q"))
            )

        return cum.groupBy(*part_cols).agg(
            (F.max("tot") / 100).cast("long").alias("n_rows"),
            F.round(pick(50) / 100.0, 6).alias("p50"),
            F.round(pick(95) / 100.0, 6).alias("p95"),
            F.round(pick(99) / 100.0, 6).alias("p99"),
        )

    weekly = _ranked(
        pts.withColumn("week", F.date_trunc("week", "d").cast("date")), "week"
    )
    alltime = _ranked(pts).select(
        F.lit(None).cast("date").alias("week"), "n_rows", "p50", "p95", "p99"
    )
    return weekly.unionByName(alltime).orderBy(F.col("week").asc_nulls_last())


def logrank_test(events: DataFrame) -> DataFrame:
    """Two-group log-rank test on time-to-first-conversion — the
    survival-curve companion to :func:`survival_km` (KM says WHAT the
    curves look like; log-rank says whether the two cohorts' hazard is
    distinguishable).  Cohorts split on ``pmod(user_id, 2)``; the
    event clock is calendar time (every user enters at the study
    start, the synthetic-events convention) and users without a
    conversion are right-censored at the corpus' last day, so they
    stay in every risk set — the single-censor-date simplification
    that keeps at-risk counts an exact cumulative sum of deaths.

    Exact carries: deaths/at-risk per day are BIGINTs; the expected
    term ``d·n1/n`` and the hypergeometric variance
    ``d·n1·n2·(n−d)/(n²·(n−1))`` round to nano-integer BIGINTs per day
    (the variance numerator exceeds int64 at fleet scale, so it is an
    identically-parenthesized double on both engines, inside the 6-dp
    roundoff).  χ² = (O−E)²/V, 1 df.

    Scale shape: ONE partial-agged groupBy(user) over raw events, one
    groupBy(conversion day) to the DAY-domain death table, then the
    cumulative at-risk window runs over the bounded calendar — never
    over rows (the prover's DATE-key discipline).  Returns one row
    ``(n_a, n_b, deaths_a, deaths_b, o_minus_e, var_lr, chi2)``.
    """
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("dd")
    )
    per_user = per_user.select(
        F.pmod(F.col("u"), F.lit(2)).cast("int").alias("g"), "dd"
    )
    # the per-user frame feeds the cohort totals AND the death table
    # (and the totals re-attach twice) — materialize the entity-domain
    # collapse once (the engine-wide scan-once discipline)
    per_user = materialize_once(per_user)
    totals = per_user.groupBy().agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("nb"),
    )
    deaths = (
        per_user.where(F.col("dd").isNotNull())
        .groupBy("dd")
        .agg(
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("d1"),
            F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("d2"),
        )
    )
    w = Window.orderBy("dd").rowsBetween(Window.unboundedPreceding, -1)
    risk = deaths.join(F.broadcast(totals)).select(
        "dd",
        "d1",
        "d2",
        (F.col("na") - F.coalesce(F.sum("d1").over(w), F.lit(0))).alias("n1"),
        (F.col("nb") - F.coalesce(F.sum("d2").over(w), F.lit(0))).alias("n2"),
    )
    d = (F.col("d1") + F.col("d2")).cast("long")
    n = (F.col("n1") + F.col("n2")).cast("long")
    e1_9 = F.round(
        (d * F.col("n1")).cast("double") / n.cast("double") * F.lit(1e9)
    ).cast("long")
    v_9 = F.when(
        n > 1,
        F.round(
            d.cast("double")
            * F.col("n1").cast("double")
            * F.col("n2").cast("double")
            * (n - d).cast("double")
            / (n.cast("double") * n.cast("double") * (n - F.lit(1)).cast("double"))
            * F.lit(1e9)
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = risk.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("long").alias("o1"),
        F.coalesce(F.sum("d2"), F.lit(0)).cast("long").alias("o2"),
        F.coalesce(F.sum(e1_9), F.lit(0)).cast("long").alias("e19"),
        F.coalesce(F.sum(v_9), F.lit(0)).cast("long").alias("v9"),
    )
    o1d = F.col("o1").cast("double")
    e1d = F.col("e19").cast("double") / F.lit(1e9)
    vd = F.col("v9").cast("double") / F.lit(1e9)
    return agg.join(F.broadcast(totals)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("o1").alias("deaths_a"),
        F.col("o2").alias("deaths_b"),
        F.round(o1d - e1d, 6).alias("o_minus_e"),
        F.round(vd, 6).alias("var_lr"),
        F.round(
            F.when(F.col("v9") > 0, (o1d - e1d) * (o1d - e1d) / vd), 6
        ).alias("chi2"),
    )


def info_gain(events: DataFrame) -> DataFrame:
    """Information gain (mutual information, nats) of the event type
    against three candidate calendar/value features — the feature-
    selection readout (which cheap feature most reduces label
    entropy), the ranking companion to :func:`mutual_information`'s
    single-pair magnitude.

    Every entropy is the count-only form ``ln n − Σ c·ln c / n``, so
    ALL log arguments are exact BIGINT counts (the text_entropy
    discipline — both engines' libm agree on ln of integers far
    inside the 6-dp roundoff); the per-term carry is a micro-integer
    BIGINT sum.  IG = H(Y) + H(X) − H(X,Y) ≥ 0, and
    ``ig_ratio = IG/H(Y)`` is the normalized (0..1) score.

    Scale shape: the three feature frames union into ONE
    partial-agged groupBy(feature, x, y) contingency pass; margins
    are per-feature aggregates of the contingency table (k-row), so
    raw events are scanned once.  Returns one row per feature
    ``(feature, n, h_y, h_x, h_xy, info_gain, ig_ratio)`` ordered by
    info_gain desc.
    """
    y = F.col("event_type").cast("string")
    feats = [
        ("dow", F.dayofweek(F.col("ts")).cast("string")),
        ("hour6", (F.floor(F.hour(F.col("ts")) / 6)).cast("string")),
        (
            "value_band",
            F.when(F.col("value") < 0, "neg")
            .when(F.col("value") < 10, "low")
            .when(F.col("value") < 100, "mid")
            .otherwise("high"),
        ),
    ]
    parts = [
        events.select(F.lit(name).alias("f"), x.alias("x"), y.alias("y"))
        for name, x in feats
    ]
    base = parts[0]
    for p in parts[1:]:
        base = base.unionByName(p)
    xy = base.groupBy("f", "x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # three entropy branches + two margin rollups read the contingency
    # table — materialize the domain-sized frame once (round-11 audit:
    # 9 raw-table scans before this)
    xy = materialize_once(xy)

    def ent_sum(counts: DataFrame, key: str) -> DataFrame:
        micro = F.sum(
            F.round(F.col("c").cast("double") * F.log("c") * F.lit(1e6)).cast("long")
        )
        return counts.groupBy("f").agg(
            micro.alias(f"s_{key}"), F.sum("c").cast("long").alias(f"n_{key}")
        )

    s_xy = ent_sum(xy, "xy")
    s_x = ent_sum(
        xy.groupBy("f", "x").agg(F.sum("c").cast("long").alias("c")), "x"
    )
    s_y = ent_sum(
        xy.groupBy("f", "y").agg(F.sum("c").cast("long").alias("c")), "y"
    )
    j = (
        s_xy.join(s_x, "f")
        .join(s_y, "f")
    )
    nn = F.col("n_xy").cast("double")

    def h(skey: str) -> Column:
        return F.log(nn) - F.col(skey).cast("double") / F.lit(1e6) / nn

    ig = h("s_x") + h("s_y") - h("s_xy")
    return j.select(
        F.col("f").alias("feature"),
        F.col("n_xy").alias("n"),
        F.round(h("s_y"), 6).alias("h_y"),
        F.round(h("s_x"), 6).alias("h_x"),
        F.round(h("s_xy"), 6).alias("h_xy"),
        F.round(ig, 6).alias("info_gain"),
        F.round(ig / h("s_y"), 6).alias("ig_ratio"),
    ).orderBy(F.col("info_gain").desc(), F.col("feature").asc())


def ab_sequential(events: DataFrame) -> DataFrame:
    """Group-sequential A/B monitoring: the per-day cumulative
    two-proportion z-statistic against an O'Brien-Fleming-style
    spending boundary ``2.963 / sqrt(information fraction)`` — the
    peek-every-day readout that says WHEN (if ever) the experiment
    could have stopped without inflating false positives, the
    always-valid companion to the fixed-horizon :func:`ab_test`.

    Unit = user-day (a user active on a day is one trial; a purchase
    that day converts it) so both arms' denominators grow with the
    calendar, the classic streaming-experiment bookkeeping.  All
    counts are exact BIGINTs off ONE distinct user-day aggregate; z
    uses the pooled-variance form with only arithmetic and sqrt —
    sqrt is IEEE-correctly-rounded, so both engines agree bit-for-bit
    before the 6-dp round.

    Scale shape: one distinct (day, arm, user, converted) collapse,
    one groupBy(day) to the DAY domain, cumulative windows over the
    bounded calendar, and a 1-row broadcast of the final totals for
    the information fraction.  Returns per day ``(d, n_a, n_b, x_a,
    x_b, z, boundary, crossed)`` ordered by day.
    """
    ud = (
        events.select(
            F.to_date("ts").alias("d"),
            F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("g"),
            F.col("user_id").alias("u"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("cv"),
        )
        .groupBy("d", "g", "u")
        .agg(F.max("cv").alias("cv"))
    )
    daily = ud.groupBy("d").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("t_a"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("t_b"),
        F.sum(F.when(F.col("g") == 0, F.col("cv")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("g") == 1, F.col("cv")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    # the day-domain table feeds the cumulative windows and the 1-row
    # grand total — materialize the bounded calendar frame once
    daily = materialize_once(daily)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum("t_a").over(w).cast("long").alias("n_a"),
        F.sum("t_b").over(w).cast("long").alias("n_b"),
        F.sum("c_a").over(w).cast("long").alias("x_a"),
        F.sum("c_b").over(w).cast("long").alias("x_b"),
    )
    tot = daily.agg(
        (F.sum("t_a") + F.sum("t_b")).cast("long").alias("n_tot")
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    p = (xa + xb) / (na + nb)
    se = F.sqrt(p * (F.lit(1.0) - p) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = F.when(se > 0, (xb / nb - xa / na) / se).otherwise(F.lit(0.0))
    frac = (na + nb) / F.col("n_tot").cast("double")
    bound = F.lit(2.963) / F.sqrt(frac)
    return cum.join(F.broadcast(tot)).select(
        "d",
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        F.round(z, 6).alias("z"),
        F.round(bound, 6).alias("boundary"),
        (F.abs(F.round(z, 6)) >= F.round(bound, 6)).alias("crossed"),
    ).orderBy("d")


def offpolicy_eval(events: DataFrame) -> DataFrame:
    """Off-policy evaluation of a candidate action policy from logged
    interaction data — the counterfactual readout an RLHF/bandit data
    pipeline runs before any online test: IPS (inverse-propensity
    estimate of the target policy's mean reward), the self-normalized
    SNIPS variant, the clipped-weight fraction, and Kish's effective
    sample size for the weights.

    Logging propensities are ESTIMATED from the log itself
    (``p̂(a|x) = c_xa / c_x`` over pmod-derived user contexts) — a
    k×|actions|-row table; the target policy is uniform over the two
    engagement actions.  Weights are micro-integer BIGINTs
    ``w6 = round(1e6·min(clip, π/p̂))`` (ratios of exact counts),
    reward is exact cents, and every sum carries in DECIMAL(38,0) so
    the accumulation never wraps int64 at fleet scale (the
    bh_significance discipline).

    Scale shape: one partial-agged groupBy(context, action) builds the
    propensity codebook (broadcast back — bounded by contexts×actions,
    never rows), then one map + global aggregate over the log.
    Returns one row ``(n, n_matched, clip_frac, sum_w, ips, snips,
    ess)``.
    """
    base = events.select(
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("x"),
        F.col("event_type").alias("a"),
        F.greatest(
            _cents("value"), F.lit(0)
        ).alias("r"),
    )
    prop = base.groupBy("x", "a").agg(F.count(F.lit(1)).cast("long").alias("c_xa"))
    ctx = prop.groupBy("x").agg(F.sum("c_xa").cast("long").alias("c_x"))
    codebook = prop.join(F.broadcast(ctx), "x")
    target = F.when(F.col("a").isin("click", "view"), F.lit(0.5)).otherwise(
        F.lit(0.0)
    )
    w6 = F.round(
        F.least(
            F.lit(20.0),
            target * F.col("c_x").cast("double") / F.col("c_xa").cast("double"),
        )
        * F.lit(1e6)
    ).cast("long")
    scored = base.join(F.broadcast(codebook), ["x", "a"]).select(
        w6.alias("w6"), "r"
    )
    dec = "decimal(38,0)"
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("w6") > 0, 1).otherwise(0)).cast("long").alias("n_matched"),
        F.sum(
            F.when(F.col("w6") == F.lit(20 * 1_000_000), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_clip"),
        F.coalesce(F.sum(F.col("w6").cast(dec)), F.lit(0).cast(dec)).alias("sw6"),
        F.coalesce(
            F.sum((F.col("w6") * F.col("r")).cast(dec)), F.lit(0).cast(dec)
        ).alias("swr6"),
        F.coalesce(
            F.sum((F.col("w6") * F.col("w6")).cast(dec)), F.lit(0).cast(dec)
        ).alias("sww12"),
    )
    nd = F.col("n").cast("double")
    sw = F.col("sw6").cast("double") / F.lit(1e6)
    swr = F.col("swr6").cast("double") / F.lit(1e6) / F.lit(100.0)
    sww = F.col("sww12").cast("double") / F.lit(1e12)
    # n = 0 (empty log) must yield NULL rates, not an ANSI
    # DIVIDE_BY_ZERO — the degenerate-surface contract every other
    # rate in the engine honors (try_divide + nullif); values for
    # n > 0 are unchanged (found by test_empty_surface after the
    # interrupted build round; the oracle's SQL divides the same way).
    return agg.select(
        "n",
        "n_matched",
        F.round(
            F.try_divide(
                F.col("n_clip").cast("double"), F.nullif(nd, F.lit(0.0))
            ),
            6,
        ).alias("clip_frac"),
        F.round(sw, 6).alias("sum_w"),
        F.round(F.try_divide(swr, F.nullif(nd, F.lit(0.0))), 6).alias("ips"),
        F.round(F.when(F.col("sw6") > 0, swr / sw), 6).alias("snips"),
        F.round(F.when(F.col("sww12") > 0, sw * sw / sww), 6).alias("ess"),
    )


def simpsons_check(events: DataFrame) -> DataFrame:
    """Simpson's-paradox audit: does any segment's A-vs-B conversion
    direction contradict the pooled direction?  The aggregation-bias
    tripwire every experiment readout should run before trusting a
    pooled lift — a reversed segment means the pooled number is
    confounded by segment mix, not evidence.

    Direction comparisons are EXACT integer cross-multiplications
    (``x_b·n_a − x_a·n_b``) — no float rate ever decides a sign, so
    the reversed flag cannot flap on roundoff.  Rates are reported at
    6 dp for humans only.

    Scale shape: one partial-agged groupBy(segment) over raw events
    (segments = day-of-week, bounded domain), pooled row via a 1-row
    broadcast join.  Returns per segment ``(segment, n_a, x_a, n_b,
    x_b, rate_a, rate_b, seg_dir, pooled_dir, reversed)`` ordered by
    segment.
    """
    base = events.select(
        F.dayofweek(F.col("ts")).cast("int").alias("seg"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("g"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("cv"),
    )
    per = base.groupBy("seg").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("g") == 0, F.col("cv")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("g") == 1, F.col("cv")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    # the segment table feeds the output AND the pooled rollup —
    # materialize the ≤7-row frame once
    per = materialize_once(per)
    pooled = per.agg(
        F.sum("n_a").cast("long").alias("p_na"),
        F.sum("x_a").cast("long").alias("p_xa"),
        F.sum("n_b").cast("long").alias("p_nb"),
        F.sum("x_b").cast("long").alias("p_xb"),
    )
    seg_dir = F.signum(
        (F.col("x_b") * F.col("n_a") - F.col("x_a") * F.col("n_b")).cast("double")
    ).cast("int")
    pooled_dir = F.signum(
        (F.col("p_xb") * F.col("p_na") - F.col("p_xa") * F.col("p_nb")).cast(
            "double"
        )
    ).cast("int")
    return per.join(F.broadcast(pooled)).select(
        F.col("seg").alias("segment"),
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(F.col("x_a").cast("double") / F.col("n_a").cast("double"), 6).alias(
            "rate_a"
        ),
        F.round(F.col("x_b").cast("double") / F.col("n_b").cast("double"), 6).alias(
            "rate_b"
        ),
        seg_dir.alias("seg_dir"),
        pooled_dir.alias("pooled_dir"),
        ((seg_dir * pooled_dir) < 0).alias("reversed"),
    ).orderBy("segment")
