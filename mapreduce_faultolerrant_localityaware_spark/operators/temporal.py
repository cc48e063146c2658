"""Temporal join operators — as-of join and banded range join.

The reference has no joins at all (SURVEY §2.2: "no second keyed
dataset exists anywhere"); these extend the generalized surface with
the two time-series joins Spark lacks as built-ins, implemented the
way that survives 100 TB:

- ``asof_join``: NOT an inequality join (a theta join on
  ``l.ts >= r.ts`` degenerates into a per-key cartesian product that
  AQE cannot save). Instead: tag both sides, union, ONE hash shuffle
  on the key, one window pass carrying the last-seen right payload
  forward. Cost is O((|L|+|R|) log) per key group — the same shape
  Flink/KDB use for temporal joins.
- ``range_join``: fact-to-bands interval join. The bands side is tiny
  by construction (a dimension of intervals), so broadcast it and let
  the BETWEEN predicate evaluate map-side — a BroadcastNestedLoopJoin
  over a handful of bands, zero shuffle of the fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: Sequence[str] | None = None,
    strict: bool = False,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row gets the payload of the single right
    row with the greatest ``right_ts <= left_ts`` (``direction=
    "backward"``, ``<`` when ``strict``) or the smallest ``right_ts >=
    left_ts`` (``direction="forward"`` — the "next quote/next
    maintenance event" lookup) in the same key group; unmatched left
    rows are dropped (inner semantics, matching DuckDB ``ASOF JOIN``
    in either comparison direction).

    Right-side ties on (key, ts) are broken deterministically by taking
    the lexicographically greatest payload struct.

    ONE shuffle either way: both sides union into a single relation,
    one window scan per key in event-time order (reversed for
    forward) carries the nearest right payload to every left row —
    never a per-row range join.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    keys = list(on)
    payload = list(payload) if payload is not None else [c for c in right.columns if c not in keys and c != right_ts]

    pay_struct = F.struct(*[F.col(c) for c in payload])
    right_u = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        pay_struct.alias("__pay"),
    )
    left_u = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(right_u.schema["__pay"].dataType).alias("__pay"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__left"),
    )
    right_u = right_u.withColumn("__left", F.lit(None).cast(left_u.schema["__left"].dataType))

    # right rows sort before left rows at equal ts for inclusive (<=)
    # semantics, after for strict (<); the trailing __pay orders ties
    # among right rows so `last` picks the greatest payload struct.
    tie = F.col("__is_right").desc() if not strict else F.col("__is_right").asc()
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, tie, F.col("__pay").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = left_u.unionByName(right_u)
    filled = unioned.withColumn("__match", F.last("__pay", ignorenulls=True).over(w))
    out = filled.filter((F.col("__is_right") == 0) & F.col("__match").isNotNull())
    return out.select(
        *[F.col("__left")[c].alias(c) for c in left.columns],
        *[F.col("__match")[c].alias(c) for c in payload],
    )


def range_join(
    fact: DataFrame,
    bands: DataFrame,
    value: Column | str,
    lo: str,
    hi: str,
) -> DataFrame:
    """Join a fact table to a (small) interval dimension on
    ``lo <= value < hi``. The bands side is broadcast — the fact table
    never shuffles and the predicate runs map-side."""
    v = F.col(value) if isinstance(value, str) else value
    cond = (v >= bands[lo]) & (v < bands[hi])
    return fact.join(F.broadcast(bands), cond, "inner")


def resample_ffill(events: DataFrame) -> DataFrame:
    """Resample an irregular event stream onto a regular per-key time
    grid with forward-fill — the gap-filling step before any
    fixed-step time-series model.

    Per key: bucket events to the unit grid (count + sum), generate
    the dense [min, max] grid with ``sequence`` + explode, left-join
    the observed buckets, and carry the last observed value forward
    with ``last(ignorenulls)`` over an unbounded-preceding ROWS frame.

    Scale shape: the aggregation is partial-agged on (key, bucket);
    the grid explode is bounded by span/unit per key (never a global
    range); the fill window sorts each key's buckets once —
    per-key-bounded, no global sort, no cross product.
    """
    bucket = F.date_trunc("hour", F.col("ts"))
    per = events.groupBy(F.col("user_id"), bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
    )
    bounds = per.groupBy("user_id").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    j = grid.join(per, ["user_id", "bucket"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.round(F.last("v", ignorenulls=True).over(w), 6).alias("v_filled"),
    )


def resample_ohlc(events: DataFrame) -> DataFrame:
    """Time-bucket downsampling to open/high/low/close + count — the
    canonical numeric-series summarization (finance bars, sensor
    rollups, metric downsampling before retention).

    Open/close are the value of the FIRST/LAST event in the bucket,
    with a total (ts, id) ordering so duplicate timestamps cannot make
    the result run-dependent — implemented as min/max over a
    (ts, id, value) struct, which keeps the whole operator a single
    partial-aggregated groupBy: every per-bucket statistic combines
    associatively map-side, so one shuffle of O(buckets) tiny rows is
    all that moves regardless of corpus size (a window/first-last
    formulation would shuffle every event row instead).
    """
    bucket = F.date_trunc("day", F.col("ts"))
    s = F.struct(
        F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v")
    )
    return events.groupBy(F.col("user_id"), bucket.alias("bucket")).agg(
        F.round(F.min(s)["v"], 6).alias("open"),
        F.round(F.max(s)["v"], 6).alias("close"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max("value"), 6).alias("high"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def scd2_intervals(
    updates: DataFrame,
    key_col: str,
    attr_cols: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: turn a stream of
    keyed attribute updates into validity intervals — each update row
    becomes ``[valid_from, valid_to)`` where valid_to is the NEXT
    update's timestamp for that key (NULL = current row).  The
    point-in-time join side every warehouse dimension needs.

    One shuffle: lead() over the per-key event-time window; interval
    construction is per-row.  Ties on ``ts`` order by the attribute
    struct for determinism (same update twice collapses to a
    zero-length interval rather than a random order).

    Returns key, valid_from, valid_to, is_current + the attributes.
    """
    from pyspark.sql import Window

    attrs = [F.col(c) for c in attr_cols]
    w = Window.partitionBy(key_col).orderBy(
        F.col("ts").asc(), F.struct(*attrs).asc() if attrs else F.lit(1)
    )
    nxt = F.lead("ts").over(w)
    return updates.select(
        F.col(key_col),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        *attrs,
    )


def interval_merge(intervals: DataFrame) -> DataFrame:
    """Merge overlapping/touching intervals per key — the classic
    gaps-and-islands coalesce (session stitching, validity-range
    compaction, on-call coverage): intervals sort by start within the
    key, a new island begins whenever a start exceeds the running max
    of prior ends (handles contained intervals, which a naive
    lag(end) comparison misses), and each island collapses to its
    span plus how many raw intervals merged into it.

    ONE exchange on the key feeding both windows (same partitioning
    and ordering → one sort, one window stage); the island id is a
    running sum of new-island flags — no self-join, no explosion.
    Interval arithmetic is integer (caller supplies epoch-micro
    longs), so the oracle comparison is exact.

    Returns ``user_id, island (long), s, e, n_merged`` — one row per
    merged interval.
    """
    order = [F.asc("s"), F.asc("e")]
    w = Window.partitionBy("user_id").orderBy(*order)
    # running max of END over all PRIOR rows (exclude current)
    prev_max_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_island = intervals.withColumn(
        "island", F.sum(new_island).over(run).cast("long")
    )
    return with_island.groupBy("user_id", "island").agg(
        F.min("s").alias("s"),
        F.max("e").alias("e"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    )


def decayed_sum(events: DataFrame) -> DataFrame:
    """Exponentially time-decayed per-key aggregation — the
    recency-weighted engagement/feature score every ranking and
    feature-store pipeline computes: each event contributes
    ``value · 0.5^(age/half_life)``, anchored at the dataset's max
    timestamp (a deterministic anchor — wall-clock ``now()`` would
    make reruns unreproducible).

    DETERMINISM: the per-row decayed contribution rounds to integer
    MICRO-units before the per-key sum (double addition is
    partial-order-sensitive; integer sums are exact), the same
    discipline as text_entropy/pagerank.

    Scale shape: the anchor is a 1-row broadcast (scalar attach); the
    aggregation is ONE map-side-combined groupBy(key).  Returns
    ``key, n_events, decayed_value`` (6 dp).
    """
    anchor = events.agg(F.max("ts").alias("_anchor"))
    age_h = (F.unix_micros(F.col("_anchor")) - F.unix_micros(F.col("ts"))) / 3.6e9
    contrib = F.round(
        F.col("value") * F.pow(F.lit(0.5), age_h / 24.0) * 1e6
    ).cast("long")
    return (
        events.crossJoin(F.broadcast(anchor))
        .select(F.col("user_id"), contrib.alias("c"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("c") / 1e6, 6).alias("decayed_value"),
        )
    )


def resample_interp(events: DataFrame) -> DataFrame:
    """Resample onto a regular per-key grid with LINEAR INTERPOLATION —
    the gap-fill a numeric sensor/metric series wants where
    :func:`resample_ffill` would step: a missing bucket gets
    ``prev + (next − prev)·Δt_ratio`` between its surrounding
    observations; leading gaps back-fill, trailing gaps carry forward.

    Determinism: per-bucket observations are integer micro-unit sums
    (each event's value rounds to micro ONCE, then exact bigint
    addition — a double sum would be partial-agg-order-sensitive),
    the Δt ratio is a ratio of integer epoch-micros, and only the
    final interpolation expression touches doubles — identical
    structure on both engines.

    Scale shape: identical to resample_ffill — partial-agged
    (key, bucket) observations, per-key bounded grid explode, and two
    frames over one per-key sort (Spark evaluates the preceding and
    following frames in one window stage).
    """
    bucket = F.date_trunc("hour", F.col("ts"))
    per = events.groupBy(F.col("user_id"), bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("vm"),
    )
    bounds = per.groupBy("user_id").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    j = grid.join(per, ["user_id", "bucket"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col("vm").isNotNull(), F.col("bucket"))
    prev_v = F.last("vm", ignorenulls=True).over(wb)
    prev_t = F.unix_micros(F.last(obs_ts, ignorenulls=True).over(wb))
    next_v = F.first("vm", ignorenulls=True).over(wf)
    next_t = F.unix_micros(F.first(obs_ts, ignorenulls=True).over(wf))
    t = F.unix_micros(F.col("bucket"))
    interp = (
        F.when(F.col("vm").isNotNull(), F.col("vm").cast("double"))
        .when(prev_v.isNull(), next_v.cast("double"))
        .when(next_v.isNull(), prev_v.cast("double"))
        .otherwise(
            prev_v + (next_v - prev_v) * ((t - prev_t) / (next_t - prev_t))
        )
    )
    # snap the interpolated double back to INTEGER micro before the
    # publish division: a midpoint between observations of odd micro
    # difference lands exactly on x.5 micro, where a direct 6-dp
    # round's HALF_UP diverges between engines on the binary double —
    # round-to-int first is exact-half-aware on both (away from zero)
    return j.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        (F.col("vm").isNotNull()).cast("int").alias("observed"),
        F.round(F.round(interp).cast("long") / 1e6, 6).alias("v_interp"),
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Nearest-in-time as-of join: each left row takes whichever of
    its backward and forward candidates is temporally closer (tie →
    backward) — the "closest reading" lookup sensor reconciliation
    wants where a directional as-of silently prefers stale data.
    Inner semantics like the directional variants: left rows with no
    match in EITHER direction are dropped.  Left rows must be unique
    (the two candidate sets re-join on the full left row).

    Adds ``matched_ts`` and ``direction`` ('backward'/'forward') to
    the payload.  Scale shape: exactly two of the one-shuffle
    union+window passes (:func:`asof_join`) plus one equi-join on the
    left identity — still never a per-row range join.
    """
    keys = list(on)
    payload = (
        list(payload)
        if payload is not None
        else [c for c in right.columns if c not in keys and c != "ts"]
    )
    r2 = right.withColumn("__rts", F.col("ts"))
    pay2 = payload + ["__rts"]
    lcols = list(left.columns)
    b = asof_join(left, r2, keys, "ts", "ts", pay2, direction="backward")
    f = asof_join(left, r2, keys, "ts", "ts", pay2, direction="forward")
    b = b.select(*lcols, *[F.col(c).alias(f"__b_{c}") for c in pay2])
    f = f.select(*lcols, *[F.col(c).alias(f"__f_{c}") for c in pay2])
    j = b.join(f, lcols, "full_outer")
    t = F.unix_micros(F.col("ts"))
    d_b = t - F.unix_micros(F.col("__b___rts"))
    d_f = F.unix_micros(F.col("__f___rts")) - t
    take_b = F.col("__f___rts").isNull() | (
        F.col("__b___rts").isNotNull() & (d_b <= d_f)
    )
    return j.select(
        *lcols,
        *[
            F.when(take_b, F.col(f"__b_{c}")).otherwise(F.col(f"__f_{c}")).alias(c)
            for c in payload
        ],
        F.when(take_b, F.col("__b___rts"))
        .otherwise(F.col("__f___rts"))
        .alias("matched_ts"),
        F.when(take_b, F.lit("backward")).otherwise(F.lit("forward")).alias("direction"),
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Time-weighted average per key per ``day`` bucket — the
    irregular-series summarizer (TimescaleDB ``time_weight``) a plain
    AVG gets wrong: each observation holds its value until the next
    one (last-observation-carried-forward), so its weight is the time
    until the next observation in the bucket (the last one carries to
    the bucket edge).  Burst-then-quiet series stop over-counting the
    burst.

    Determinism: values lift to milli-unit integers ONCE, durations
    to millisecond integers (micro values × microsecond durations
    would overflow bigint on day buckets), the weighted sum is exact
    bigint arithmetic, and one final double division publishes 6 dp —
    a double Σ(v·dt) would be partial-order-sensitive.

    Scale shape: one (key, bucket)-partitioned window for the lead
    timestamp (ordered (ts, id) — total order), then one
    partial-agged groupBy.  No grid explode, no pair space.
    """
    bucket = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    nxt = F.lead(F.col("ts")).over(w)
    bucket_end = F.col("bucket") + F.expr("INTERVAL 1 DAY")
    dur_ms = F.floor(
        (
            F.unix_micros(F.coalesce(nxt, bucket_end))
            - F.unix_micros(F.col("ts"))
        )
        / 1000
    ).cast("long")
    staged = events.select(
        F.col("user_id"),
        bucket.alias("bucket"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 1000).cast("long").alias("vmil"),
    ).select(
        "user_id",
        "bucket",
        "vmil",
        dur_ms.alias("dur_ms"),
    )
    return staged.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.when(
            F.sum("dur_ms") > 0,
            F.round(
                F.sum(F.col("vmil") * F.col("dur_ms"))
                / F.sum("dur_ms")
                / 1000,
                6,
            ),
        ).alias("twap"),
        F.round(F.sum("vmil") / F.count(F.lit(1)) / 1000, 6).alias("plain_avg"),
    ).select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "n_events",
        "twap",
        "plain_avg",
    )


def interval_sweep(
    df: DataFrame,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """How many intervals are OPEN on each day — the classic sweep-line
    concurrency profile (items in transit, concurrent sessions, open
    tickets, rooms occupied) that a naive days×intervals join turns
    into a calendar-sized cartesian blowup.

    Sweep-line form: every interval contributes +1 on its start day
    and −1 on the day AFTER its end day (inclusive ends); the open
    count on any boundary day is the running sum of the per-day
    deltas.  The count is constant between boundaries, so reporting
    only change days loses nothing.

    Exactness: deltas and running sums are BIGINT; there is no float
    anywhere.  Intervals with end < start are dropped (they never
    open).

    Scale shape: one union of two projections of the same scan, one
    partial-agged groupBy to the DAY domain (calendar-bounded — years
    of days, not rows), then ONE cumulative window over that
    aggregated table: the same aggregate-first discipline as
    :func:`~..operators.events.ks_test`; a row-level sweep would
    single-partition-sort the fact table.  Returns
    ``(d, delta, open_count)`` ordered by day.
    """
    valid = df.filter(F.col(end_col) >= F.col(start_col))
    deltas = valid.select(
        F.to_date(start_col).alias("d"), F.lit(1).cast("long").alias("delta")
    ).unionByName(
        valid.select(
            F.date_add(F.to_date(end_col), 1).alias("d"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    per_day = deltas.groupBy("d").agg(
        F.sum("delta").cast("long").alias("delta")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "d",
        "delta",
        F.sum("delta").over(w).cast("long").alias("open_count"),
    ).orderBy("d")
