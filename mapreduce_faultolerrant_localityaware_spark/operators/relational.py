"""Relational operator layer — the generalized operator surface of
SURVEY §2.3 (filter / project / group_agg / sort / limit / union /
distinct / repartition / top-k) plus joins and windows, each a thin
typed wrapper over the DataFrame API so Catalyst owns the physical
strategy (pushdown, pruning, broadcast vs sort-merge, AQE).

These wrappers deliberately add *nothing* on top of Spark's operators
except a stable, testable API: the reference's versions of these
mechanics (map-side combine core/map_reduce.go:548-550 +
core/workerStruct.go:254-293, hash partition core/utils.go:353-363,
shuffle core/map_reduce.go:442-520, final sum core/map_reduce.go:150-216,
sort core/utils.go:367-381) are subsumed by HashAggregate/Exchange/Sort.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: agg name → builder. group_agg(keys, {"out": ("sum", "col")})
_AGG_FNS = {
    "count": lambda c: F.count(c),
    "count_star": lambda _: F.count(F.lit(1)),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "avg": lambda c: F.avg(c),
    "count_distinct": lambda c: F.countDistinct(c),
    "approx_count_distinct": lambda c: F.approx_count_distinct(c),
}


def project(df: DataFrame, exprs: Mapping[str, Column | str]) -> DataFrame:
    """Named projection; values may be columns/expressions or column names."""
    cols = [(F.col(v) if isinstance(v, str) else v).alias(k) for k, v in exprs.items()]
    return df.select(*cols)


def filter_(df: DataFrame, predicate: Column | str) -> DataFrame:
    return df.filter(predicate)


def group_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, Column | str | None]],
) -> DataFrame:
    """Grouped aggregation: ``aggs`` maps output name → (fn, input).

    Partial (map-side) + final aggregation is automatic — this is the
    generalization of the reference's two combiner levels and its
    Reduce sum (SURVEY O5/O8/O10).
    """
    agg_cols = []
    for out, (fn, inp) in aggs.items():
        if fn not in _AGG_FNS:
            raise KeyError(f"unknown agg {fn!r}; have {sorted(_AGG_FNS)}")
        col = F.col(inp) if isinstance(inp, str) else inp
        agg_cols.append(_AGG_FNS[fn](col).alias(out))
    return df.groupBy(*keys).agg(*agg_cols) if keys else df.agg(*agg_cols)


def sort(df: DataFrame, *order: Column) -> DataFrame:
    """Total sort. Callers should supply a full tiebreak (SURVEY Q4)."""
    return df.orderBy(*order)


def limit(df: DataFrame, n: int) -> DataFrame:
    return df.limit(n)


def top_k(df: DataFrame, n: int, *order: Column) -> DataFrame:
    """orderBy+limit → Spark plans TakeOrderedAndProject: per-partition
    top-n then a driver merge of n·partitions rows — no total sort, no
    full shuffle. This is the scale-safe top-k."""
    return df.orderBy(*order).limit(n)


def top_k_per(df: DataFrame, by: Sequence[Column | str], k: int, *order: Column) -> DataFrame:
    """The ``k`` first rows of each ``by`` group under ``order`` (give
    a total order), numbered 1..k in the BIGINT column ``rk``.  One hash
    exchange on ``by`` and a per-partition sort; Spark bounds the sort
    to k rows per group (WindowGroupLimit) — no global sort."""
    w = Window.partitionBy(*by).orderBy(*order)
    # the filter as SQL text: one py4j call instead of ~25 for the
    # Column form, same plan (the optimizer unwraps the widening cast)
    return df.withColumn("rk", F.row_number().over(w).cast("long")).filter(f"rk <= {int(k)}")


def union(*dfs: DataFrame) -> DataFrame:
    """Union by column name (reference analog: input-file concatenation,
    core/utils.go:331)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def distinct(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    return (df.select(*cols) if cols else df).distinct()


def repartition(df: DataFrame, n: int, *cols: str) -> DataFrame:
    """Explicit hash repartition (reference O2/O6 — with a *correct*
    key hash, unlike the length-only HashKeyReducerSum, SURVEY Q1)."""
    return df.repartition(n, *[F.col(c) for c in cols]) if cols else df.repartition(n)


#: aggs that decompose as agg(agg(parts)) — safe for salted two-phase
_DECOMPOSABLE = {"sum": "sum", "count": "sum", "count_star": "sum", "min": "min", "max": "max"}


def group_agg_salted(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, Column | str | None]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for SKEWED group keys: pre-aggregate on
    (keys, random salt) — spreading one hot key over ``salt_buckets``
    reducers — then re-aggregate on keys alone.

    The second shuffle carries only keys × salt_buckets rows, so the
    hot key's cost is split ~evenly.  Only decomposable aggs (sum,
    count, min, max) qualify; avg/count_distinct need rewriting as
    sum/count pairs by the caller.  For garden-variety skew prefer AQE
    skew handling (on by default in session.py); this operator is for
    the pathological key that dominates a partition by itself — the
    situation the reference *creates* by hashing only on key length
    (SURVEY Q1).
    """
    for out, (fn, _) in aggs.items():
        if fn not in _DECOMPOSABLE:
            raise ValueError(f"agg {fn!r} ({out}) is not decomposable for salting")
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    phase1 = group_agg(salted, [*keys, "__salt"], aggs)
    refold = {out: (_DECOMPOSABLE[fn], out) for out, (fn, _) in aggs.items()}
    return group_agg(phase1, list(keys), refold)


def intersect(df: DataFrame, other: DataFrame) -> DataFrame:
    return df.intersect(other)


def except_(df: DataFrame, other: DataFrame) -> DataFrame:
    return df.exceptAll(other)


def pivot(
    df: DataFrame,
    group_key: str,
    pivot_col: str,
    pivot_values: Sequence[str],
    agg_name: str,
    agg_fn: str,
    agg_input: str,
) -> DataFrame:
    """Pivot with EXPLICIT values — never let Spark scan for distinct
    pivot values (that's an extra job over the full input at scale)."""
    agg = _AGG_FNS[agg_fn](F.col(agg_input)).alias(agg_name)
    return df.groupBy(group_key).pivot(pivot_col, list(pivot_values)).agg(agg)


def cube_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, Column | str | None]],
) -> DataFrame:
    agg_cols = []
    for out, (fn, inp) in aggs.items():
        col = F.col(inp) if isinstance(inp, str) else inp
        agg_cols.append(_AGG_FNS[fn](col).alias(out))
    return df.cube(*keys).agg(*agg_cols)


def join_salted(
    big: DataFrame,
    skewed_small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: salt the big side's key with a random
    bucket and replicate the small side once per bucket, so one hot key
    spreads over ``salt_buckets`` reducers instead of melting one.

    Cost: the small side shuffles ``salt_buckets``× its size — only pay
    it when one key dominates (AQE's skew-join split handles moderate
    skew for free; this is for the key that exceeds a single executor).
    Results are identical to ``big.join(skewed_small, key, how)``.
    """
    salted_big = big.withColumn("__salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    # one split: a k-row broadcast, and a plan that does not print the core count
    salts = big.sparkSession.range(salt_buckets, numPartitions=1).select(
        F.col("id").cast("int").alias("__salt")
    )
    replicated = skewed_small.crossJoin(F.broadcast(salts))
    return salted_big.join(replicated, [key, "__salt"], how).drop("__salt")


def join(
    df: DataFrame,
    other: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Join with optional explicit broadcast of the right side.

    Catalyst auto-broadcasts below autoBroadcastJoinThreshold; the
    explicit hint is for dimension tables whose smallness Catalyst
    can't prove (e.g. after filters). The reference has no joins at
    all (SURVEY §2.2) — this is part of the generalized surface.
    """
    right = F.broadcast(other) if broadcast_right else other
    return df.join(right, on, how)


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    rates: dict,
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep rates via
    md5-bucket filtering on the key (reproducible, engine-portable, no
    RNG state — the down-sampling/re-balancing pattern of a corpus
    mix, e.g. keep 10% of web text but 100% of books).  Pure map-side
    filter: no shuffle, pushdown-friendly."""
    bucket = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10) % 10000
    rate = F.lit(float(default_rate))
    for k, v in rates.items():
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate)
    # round() before the long cast: a truncating cast of double
    # arithmetic turns e.g. 0.29 * 10000 = 2899.999… into 2899, off by
    # one bucket vs an engine computing in DECIMAL (the DuckDB oracle).
    return df.filter(bucket < F.round(rate * 10000).cast("long"))


def key_skew_report(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Heavy-hitter diagnostic for a join/aggregation key: the top-k
    keys by row count with their corpus share — the report that decides
    whether a key needs salting (`salted_agg`/`join_skew_salted`)
    before a 100 TB shuffle, and the batch analog of AQE's runtime
    skew detection.

    Shape: one partial-agged groupBy carries (key, count); the grand
    total is a 1-row aggregate broadcast back (deliberate 1-row
    nested-loop, same pattern as the salt replication); ranking runs
    AFTER the top-k cut so no global window ever sees the full key
    space — only ``top_k`` rows pass through the final sort.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    return top.select(
        "key",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias("share"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def merge_upsert(
    base: DataFrame,
    delta: DataFrame,
    key: str,
    version_col: str,
) -> DataFrame:
    """MERGE INTO semantics without a table format: latest-wins upsert
    of ``delta`` into ``base`` — new keys insert, existing keys take
    the row with the highest ``version_col`` (delta wins ties, the
    MERGE convention).  The engine-side shape of every CDC/compaction
    pipeline: at 100 TB this is ONE shuffle on the key — union both
    sides, elect max-(version, is_delta) per key via an aggregate over
    packed structs (map-side combinable — no window sort of the whole
    table, which is what a row_number formulation would do).

    Returns the merged snapshot with base's columns.
    """
    cols = base.columns
    if set(cols) != set(delta.columns):
        raise ValueError("base and delta must share a schema")
    tag = lambda df, is_delta: df.select(
        F.col(key),
        F.struct(
            F.col(version_col).alias("v"),
            F.lit(is_delta).alias("d"),
            F.struct(*[F.col(c) for c in cols]).alias("row"),
        ).alias("packed"),
    )
    merged = (
        tag(base, 0)
        .unionByName(tag(delta, 1))
        .groupBy(key)
        .agg(F.max("packed").alias("w"))
    )
    return merged.select(*[F.col(f"w.row.{c}").alias(c) for c in cols])


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lower: float = 0.05,
    upper: float = 0.95,
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group percentile clamping (winsorization) — the robust
    outlier treatment a metrics/feature pipeline applies before
    aggregation: values below the group's ``lower`` quantile rise to
    it, values above ``upper`` drop to it.

    Exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``), computed per group with ONE map-side
    combinable aggregation over the group key — NOT a window over the
    raw rows (a per-row percentile window re-sorts every partition).
    The per-group bounds relation is |groups| rows, so Catalyst
    broadcasts the join back onto the fact side: total cost is one
    aggregate + one broadcast hash join, no fact-side shuffle.

    NULL handling: a NULL value stays NULL (least/greatest would
    otherwise silently substitute the lower bound for an unknown
    input), and NULL group keys join null-safely so no input row is
    ever dropped — a per-row value transform must preserve row count.

    Returns ``id_cols + group_cols`` with the original value and
    ``value_w`` (both 6-dp rounded for cross-engine hash parity).
    """
    from functools import reduce

    bounds = df.groupBy(*group_cols).agg(
        F.percentile(F.col(value_col), F.lit(lower)).alias("_lo"),
        F.percentile(F.col(value_col), F.lit(upper)).alias("_hi"),
    )
    # bounds derives from df, so the join is a self-join lineage-wise:
    # alias both sides and use qualified refs throughout
    f, b = df.alias("_f"), bounds.alias("_b")
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"_f.{c}").eqNullSafe(F.col(f"_b.{c}")) for c in group_cols],
    )
    out = f.join(F.broadcast(b), cond)
    val = F.col(f"_f.{value_col}")
    clamped = F.when(
        val.isNotNull(),
        F.least(F.greatest(val, F.col("_b._lo")), F.col("_b._hi")),
    )
    return out.select(
        *[F.col(f"_f.{c}") for c in id_cols],
        *[F.col(f"_f.{c}").alias(c) for c in group_cols],
        F.round(val, 6).alias(value_col),
        F.round(clamped, 6).alias("value_w"),
    )


def group_mode(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
) -> DataFrame:
    """Per-group MODE with a deterministic tiebreak (highest count,
    then lexicographically smallest value) — the categorical summary
    built-in ``mode()`` can't give portably (its tie choice is
    engine-/partition-order-dependent).  Also reports the mode's
    count, the group total, and the distinct-value count.

    Scale shape: one partial-agged groupBy(keys, col) — cardinality
    bounded by the value domain, not rows — then a per-key top-1
    window over those counts.  NULL values are excluded (a NULL mode
    is not actionable; the total still counts all rows via the
    separate keys-only aggregate)."""
    klist = list(keys)
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*klist, col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = top_k_per(counts, klist, 1, F.desc("n"), F.asc(col)).drop("rk")
    per_key = counts.groupBy(*klist).agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    return top.join(per_key, klist).select(
        *klist,
        F.col(col).alias("mode_value"),
        F.col("n").cast("long").alias("n_mode"),
        "n_total",
        "n_distinct",
    )


def bloom_semi_audit(
    fact: DataFrame,
    build: DataFrame,
    fact_key: str,
    build_key: str,
    m_bits: int = 16384,
    k: int = 3,
) -> DataFrame:
    """Explicit Bloom-filter semi-join reduction with false-positive
    accounting — the map-side shuffle reducer a 100 TB fact⋈dim plan
    leans on (AQE injects one automatically; this operator makes the
    mechanism first-class and MEASURES it): build a deterministic
    m-bit/k-hash Bloom over the build keys, probe the fact side
    entirely in-row, and report how many fact rows the filter passes
    vs the exact semi-join — fp_rate is the shuffle you'd still carry
    for nothing.

    Determinism: bit positions come from md5(key) hex substrings (the
    engine's content-addressed hashing discipline); the filter packs
    into ``m_bits/32`` 32-bit words held in ONE array row (bit 63
    issues avoided by construction), aggregated with bit_or — an
    associative, order-free reduction — and broadcast as a 1-row
    cross join.  Probe is element_at + bit test per hash: pure
    codegen, zero probe-side shuffle before the filter.

    Returns one audit row: ``n_fact, n_bloom_pass, n_exact,
    n_false_pos, fp_rate``.
    """
    n_words = m_bits // 32

    def positions(key_col):
        h = F.md5(F.col(key_col).cast("string"))
        return [
            (
                F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
                % m_bits
            )
            for i in range(k)
        ]

    bits = (
        build.select(F.explode(F.array(*positions(build_key))).alias("pos"))
        .select(
            (F.col("pos") / 32).cast("long").alias("word"),
            # shiftleft's bit count must be a column here, which the
            # python wrapper doesn't accept — SQL expression instead
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    # pack the sparse word table into one dense array row (absent
    # words are 0): aggregate to a word->bits map first (lambdas and
    # aggregates cannot nest), then densify in a second projection
    packed = bits.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(F.col("word"), F.col("bits"))))
        ).alias("wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("wm"), i.cast("long")), F.lit(0).cast("long")
            ),
        ).alias("bloom")
    )
    probe = (
        fact.select(F.col(fact_key).alias("pk"))
        .select(
            "pk", *[p.alias(f"p{i}") for i, p in enumerate(positions("pk"))]
        )
        .crossJoin(F.broadcast(packed))
    )
    tests = [
        (
            F.element_at(F.col("bloom"), ((F.col(f"p{i}") / 32).cast("int") + 1))
            .bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p{i} % 32 AS INT))")
            )
            != 0
        )
        for i in range(k)
    ]
    passed_expr = tests[0]
    for t in tests[1:]:
        passed_expr = passed_expr & t
    flagged = probe.select(F.col("pk"), passed_expr.cast("int").alias("bloom_pass"))
    exact_keys = build.select(F.col(build_key).alias("pk")).distinct().withColumn(
        "is_exact", F.lit(1)
    )
    j = flagged.join(F.broadcast(exact_keys), "pk", "left")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_fact"),
        F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
        F.sum(F.coalesce("is_exact", F.lit(0))).cast("long").alias("n_exact"),
        F.sum(
            (F.col("bloom_pass") == 1).cast("long")
            * (F.coalesce("is_exact", F.lit(0)) == 0).cast("long")
        ).alias("n_false_pos"),
    ).select(
        "n_fact",
        "n_bloom_pass",
        "n_exact",
        F.col("n_false_pos").cast("long").alias("n_false_pos"),
        F.round(F.col("n_false_pos") / F.col("n_fact"), 6).alias("fp_rate"),
    )


def corr_matrix(
    df: DataFrame,
    cols_scales: list[tuple[str, int]],
) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric columns — the
    feature-redundancy audit run before model training or index
    selection (two 0.99-correlated columns carry one signal).

    ``cols_scales`` maps each column to an integer scale factor: every
    value becomes round(x·scale) as a bigint, so ALL sufficient
    statistics (Σxᵢ, Σxᵢxⱼ for i ≤ j) are exact integer sums — one
    partial-agged pass, (k² + 3k)/2 + 1 bigints per partition across
    the exchange, nothing proportional to the row count.  Scales are
    the caller's overflow budget: pick scale so |x·scale| ≤ ~1e6 and
    Σx² stays inside int64 up to ~1e6·rows (document per dataset).

    Pearson r is scale-invariant, so the integer quantization only
    perturbs values below the chosen precision; the final ratio runs
    in double over exact-integer operands (deterministic IEEE inputs
    on both engines).

    Returns (col_x, col_y, n, corr) for i < j pairs, ordered.
    """
    k = len(cols_scales)
    xm = [
        F.round(F.col(c) * F.lit(s)).cast("long").alias(f"x{i}")
        for i, (c, s) in enumerate(cols_scales)
    ]
    base = df.select(*xm)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(k):
        aggs.append(F.sum(F.col(f"x{i}")).alias(f"s{i}"))
        for j in range(i, k):
            aggs.append(F.sum(F.col(f"x{i}") * F.col(f"x{j}")).alias(f"q{i}_{j}"))
    one = base.agg(*aggs)
    n = F.col("n").cast("double")
    pairs = []
    for i in range(k):
        for j in range(i + 1, k):
            si, sj = F.col(f"s{i}").cast("double"), F.col(f"s{j}").cast("double")
            cov_n = n * F.col(f"q{i}_{j}").cast("double") - si * sj
            vi_n = n * F.col(f"q{i}_{i}").cast("double") - si * si
            vj_n = n * F.col(f"q{j}_{j}").cast("double") - sj * sj
            r = cov_n / F.sqrt(vi_n * vj_n)
            pairs.append(
                F.struct(
                    F.lit(cols_scales[i][0]).alias("col_x"),
                    F.lit(cols_scales[j][0]).alias("col_y"),
                    F.round(
                        F.when((vi_n > 0) & (vj_n > 0), r), 6
                    ).alias("corr"),
                )
            )
    return (
        one.select("n", F.explode(F.array(*pairs)).alias("z"))
        .select(
            F.col("z.col_x").alias("col_x"),
            F.col("z.col_y").alias("col_y"),
            F.col("n").cast("long").alias("n"),
            F.col("z.corr").alias("corr"),
        )
        .orderBy("col_x", "col_y")
    )


def percentile_edges_bucketed(
    edge_df: DataFrame, col: str, qs: Sequence[float]
) -> DataFrame:
    """1-row frame of EXACT interpolated percentiles of an integer
    column (``e0..e{m-1}``), computed from bucketed cumulative counts
    instead of the built-in exact ``percentile`` aggregate.  The
    built-in buffers a value→count map whose size is the DISTINCT
    value domain **in one final-aggregation task** — fine for
    tie-heavy columns, the round-10 continuous-domain caveat in
    aggregate-buffer form when values are near-unique.  Here the
    domain collapses to (value, count) rows, cumulative counts come
    from :func:`bucketed_cum_counts` (fully parallel), and each
    requested percentile reads its two order statistics with one
    conditional aggregate.

    Bit-parity: reproduces ``Percentile.getPercentile``'s exact IEEE
    expression — ``pos = (n−1)·q``; lower/higher order statistics at
    ``floor(pos)``/``ceil(pos)``; result
    ``v_lo·(higher−pos) + v_hi·(pos−lower)`` (NOT the algebraically
    equal ``v_lo + frac·Δ``, which rounds differently) — so swapping
    it under :func:`equidepth_bins` changes no output bit and the
    DuckDB oracles keep matching.  NULLs are EXCLUDED before counting
    (the built-in percentile aggregate skips them; counting the NULL
    group would inflate n and shift every order statistic).
    """
    per = (
        edge_df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
    )
    cum = bucketed_cum_counts(per, "__v", [("__t", "__ct")], with_totals=True)
    n = F.col("__ct_tot")
    lo_rank = (F.col("__ct") - F.col("__t")).cast("long")  # first 0-based rank
    hi_rank = (F.col("__ct") - 1).cast("long")             # last 0-based rank
    aggs = [F.max(n).alias("__n")]
    for i, q in enumerate(qs):
        pos = (n - 1).cast("double") * F.lit(float(q))
        lo = F.floor(pos).cast("long")
        hi = F.ceil(pos).cast("long")
        aggs.append(
            F.min(F.when((lo_rank <= lo) & (lo <= hi_rank), F.col("__v")))
            .cast("double")
            .alias(f"__vl{i}")
        )
        aggs.append(
            F.min(F.when((lo_rank <= hi) & (hi <= hi_rank), F.col("__v")))
            .cast("double")
            .alias(f"__vh{i}")
        )
    s = cum.agg(*aggs)
    outs = []
    for i, q in enumerate(qs):
        pos = (F.col("__n") - 1).cast("double") * F.lit(float(q))
        lo = F.floor(pos).cast("long")
        hi = F.ceil(pos).cast("long")
        outs.append(
            F.when(lo == hi, F.col(f"__vl{i}"))
            .otherwise(
                F.col(f"__vl{i}") * (hi.cast("double") - pos)
                + F.col(f"__vh{i}") * (pos - lo.cast("double"))
            )
            .alias(f"e{i}")
        )
    return s.select(*outs)


def equidepth_bins(apply_df: DataFrame, edge_df: DataFrame, col: str, n_bins: int) -> DataFrame:
    """Shared equi-depth binning core (histogram_equidepth, psi_drift):
    edges are EXACT percentiles of ``edge_df[col]`` from one 1-row
    aggregate (:func:`percentile_edges_bucketed` — r11: bucketed
    order statistics, so a near-unique value domain no longer rides
    one task's percentile buffer), binning is a map-side comparison
    chain against the broadcast edge row.  Never a global sort or a
    raw-row ntile.  Returns ``apply_df`` + ``bin`` (1-based) with the
    edge columns still attached (select them away).
    """
    qs = [i / n_bins for i in range(1, n_bins)]
    edges = percentile_edges_bucketed(edge_df, col, qs)
    j = apply_df.join(F.broadcast(edges))
    b = F.lit(1)
    for i in range(len(qs)):
        b = b + (F.col(col) > F.col(f"e{i}")).cast("int")
    return j.withColumn("bin", b)


def histogram_equidepth(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Equi-DEPTH histogram: bins hold (approximately) equal row
    counts with data-driven edges — the summary that stays readable
    under heavy skew, where equi-width bins collapse into one giant
    bar (and what engines themselves keep as column statistics).

    Scale + determinism: edges are exact percentiles of the
    ``scale``-scaled integer values (one 1-row aggregate — an exact
    value, integer or .5 midpoint), binning is a map-side comparison
    chain against that broadcast row, and the rollup is one
    partial-agged groupBy on the bin id.  No global sort, no ntile
    window over raw rows — at 100 TB a single-partition ntile is the
    difference between a report and an OOM.

    Returns (bin, n, lo, hi) — observed min/max inside each bin,
    values back in original units — ordered by bin.
    """
    v = F.round(F.col(value_col) * scale).cast("long")
    base = df.select(v.alias("v"))
    return (
        equidepth_bins(base, base, "v", n_bins)
        .select("bin", "v")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("v") / scale, 6).alias("lo"),
            F.round(F.max("v") / scale, 6).alias("hi"),
        )
        .select(F.col("bin").cast("long").alias("bin"), "n", "lo", "hi")
        .orderBy("bin")
    )


def cdc_apply(
    log: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    op_col: str = "op",
    value_col: str = "value",
) -> DataFrame:
    """Apply a change-data-capture log: per key, replay ordered
    upsert/delete operations and keep the FINAL state — the batch
    materialization every CDC mirror (Debezium→lake) runs, and the
    delete-aware big sibling of :func:`merge_upsert`.

    Semantics: the last operation in (ts, id) order wins; if it is a
    delete the key vanishes from the output.  Shape at scale: ONE
    packed-struct max aggregation per key (the merge_upsert trick —
    no window, no sort, partial-agged), then a filter on the packed
    op.  A billion-row log with a million live keys shuffles only the
    per-key packed maxima.

    Returns (key, last_ts, last_value) for keys whose final op is not
    a delete, ordered by key.
    """
    packed = F.struct(
        F.unix_micros(F.col(ts_col)).alias("t"),
        F.col(id_col).alias("i"),
        F.col(op_col).alias("o"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
    )
    last = log.groupBy(key_col).agg(F.max(packed).alias("m"))
    return (
        last.filter(F.col("m.o") != "delete")
        .select(
            F.col(key_col),
            F.timestamp_micros(F.col("m.t")).alias("last_ts"),
            F.round(F.col("m.cents") / 100.0, 6).alias("last_value"),
        )
        .orderBy(key_col)
    )


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Exact equi-join output size WITHOUT executing the join:
    |A ⋈ B| = Σ_k cntA(k)·cntB(k) over the key domain — the planning
    primitive behind join-order and skew decisions (run it before a
    suspect join at 100 TB and you know whether the output is 1× or
    10 000× the inputs; the per-key term is also the skew map).

    Shape: one partial-agged count per side (key, cnt) — domain-sized,
    not row-sized — then an inner join of the two count tables and a
    single sum.  Reports the total plus the top contributing key.

    Returns one row: (join_rows, n_matching_keys, top_key, top_rows).
    """
    la = left.groupBy(F.col(left_key).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
    rb = right.groupBy(F.col(right_key).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
    per_key = la.join(rb, "k").select(
        "k", (F.col("ca") * F.col("cb")).alias("rows")
    )
    top = F.max(F.struct(F.col("rows"), (-F.col("k").cast("long")).alias("nk")))
    return per_key.agg(
        F.sum("rows").cast("long").alias("join_rows"),
        F.count(F.lit(1)).cast("long").alias("n_matching_keys"),
        (-top.getField("nk")).cast("long").alias("top_key"),
        top.getField("rows").cast("long").alias("top_rows"),
    )


def revenue_concentration(
    orders: DataFrame,
    key_col: str = "o_custkey",
    value_col: str = "o_totalprice",
    threshold_pct: int = 80,
) -> DataFrame:
    """Pareto concentration curve: how many top entities cover
    ``threshold_pct``% of total value — the 80/20 report behind
    account-risk and storage-tiering decisions (and, on a corpus,
    "how few domains contribute 80% of tokens").

    Shape: per-key exact cent totals (partial-agged groupBy), then a
    running share over the AGGREGATED key table ordered by
    (total desc, key) via :func:`bucketed_cum_counts` — the key
    domain (customers, crawl domains) SCALES WITH DATA, so the
    cumulative pass range-buckets and ranks per bucket instead of
    funneling the whole key table through one ordered-window task
    (the round-10 shape); the grand total folds into the bucket-
    offset frame, dropping the former 1-row broadcast attach.
    Deterministic: exact bigint cents, integer-ratio share rounded at
    the edge.

    Returns one row: (n_keys, n_top, top_share_pct, total_value).
    """
    per = orders.groupBy(F.col(key_col).alias("k")).agg(
        F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("cents")
    )
    run = bucketed_cum_counts(
        per,
        "cents",
        [("cents", "cum")],
        ascending=False,
        tiebreak_cols=["k"],
        with_totals=True,
    ).select("k", "cents", "cum", F.col("cum_tot").alias("tot"))
    # a key is needed while the PREVIOUS cumulative share is still
    # below the threshold: (cum − cents)/tot < thr/100, compared as
    # exact integers with the fraction REDUCED (gcd) so the cross
    # products keep maximal int64 headroom at extreme totals
    import math

    g = math.gcd(threshold_pct, 100)
    num, den = threshold_pct // g, 100 // g
    needed = run.filter(
        (F.col("cum") - F.col("cents")) * den < F.lit(num) * F.col("tot")
    )
    return needed.agg(
        F.max(F.col("tot")).alias("_t"),
        F.count(F.lit(1)).cast("long").alias("n_top"),
        F.round(F.max(F.col("cum")) / F.max(F.col("tot")) * 100, 6).alias("top_share_pct"),
    ).join(F.broadcast(per.agg(F.count(F.lit(1)).cast("long").alias("n_keys")))).select(
        "n_keys", "n_top", "top_share_pct",
        F.round(F.col("_t") / 100.0, 2).alias("total_value"),
    )


def sample_weighted_k(
    df: DataFrame,
    k: int = 50,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-k weighted sampling without replacement — the
    Efraimidis–Spirakis A-Res scheme with a deterministic md5-derived
    uniform instead of an RNG: each row gets key = −ln(u)/w and the k
    SMALLEST keys win, which realizes weighted sampling without
    replacement exactly (inclusion ∝ weight, no RNG state, identical
    sample on every run/engine/cluster — the companion to the
    Bernoulli :func:`sample_weighted`, which cannot pin the sample
    SIZE).

    Determinism discipline: u comes from the top 48 bits of
    md5(id) (exact integer → exact double), ln(u) is rounded to
    integer MICRO before the division so the sort key is a double
    computed from exact integers — bit-identical on both engines —
    and ties (impossible in practice, 2⁴⁸ space) break on id.  Scale:
    the k-smallest is a TakeOrderedAndProject heap, never a global
    sort.

    Returns (id, weight, sel_key) for the k winners, ordered by the
    selection key.
    """
    # u in (0,1): 48 md5 bits / 2^48, never exactly 0 (offset by 1)
    u48 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    u = (u48 + 1.0) / float(1 << 48)
    ln_micro = F.round(-F.log(u) * 1e6).cast("long")
    key = ln_micro / F.col(weight_col).cast("double")
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            F.round(key, 6).alias("sel_key"),
        )
        .filter(F.col("weight") > 0)
        .orderBy("sel_key", id_col)
        .limit(k)
    )


def cooccurrence_affinity(
    fact: DataFrame,
    basket_col: str,
    item_col: str,
    min_shared: int = 3,
    max_basket: int = 128,
) -> DataFrame:
    """Market-basket item affinity: for every item pair, how many
    baskets contain BOTH — the "customers of supplier A also buy from
    B" signal behind cross-sell and substitution analysis (and, on a
    corpus, domain co-citation).

    Scale discipline: baskets collapse to DISTINCT (basket, item)
    pairs first; baskets with more than ``max_basket`` items are
    DROPPED ENTIRELY (a whale basket touching everything contributes
    quadratic cost and near-zero affinity signal — the market-basket
    analog of the LSH bucket cap, and the same rule the oracle
    applies, so the gate still hashes).  The wedge expansion is an
    in-row a<b pair fan-out over each basket's sorted item list —
    bounded by ``max_basket``², never a corpus-sized self-join.

    Returns (item_a, item_b, n_baskets) for pairs with ≥ ``min_shared``
    shared baskets, ordered by (n_baskets desc, item_a, item_b).
    """
    pairs = fact.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    baskets = pairs.groupBy("b").agg(F.sort_array(F.collect_set("i")).alias("items"))
    kept = baskets.filter(F.size("items") <= max_basket)
    expanded = kept.select(
        F.explode(
            F.flatten(
                F.transform(
                    "items",
                    lambda a, i: F.transform(
                        F.slice("items", i + 2, F.size("items") - i - 1),
                        lambda c: F.struct(a.alias("item_a"), c.alias("item_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        expanded.groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_shared)
        .orderBy(F.desc("n_baskets"), "item_a", "item_b")
    )


def lateral_topk(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    order: Sequence[Column],
    k: int,
    select: Sequence[str] | None = None,
) -> DataFrame:
    """Correlated LATERAL top-k: for each left row, the k best right
    rows for that key (``, LATERAL (SELECT ... WHERE r.key = l.key
    ORDER BY ... LIMIT k)`` — inner semantics: left rows with no match
    drop out).

    Spark 4's DataFrame lateral join (``lateralJoin`` + ``.outer()``
    correlated column refs) hands the correlated LIMIT to Catalyst's
    decorrelation rewrite, which turns it into the same
    rank-over-partition plan a hand-written window top-k produces — a
    single shuffle on the join key, no per-left-row re-execution.  The
    declared-surface point is the API: users of per-key-top-k express
    it as the SQL standard's LATERAL, and the optimizer, not the
    author, picks the physical strategy (SURVEY §4: declare, don't
    hand-schedule).
    """
    sub = right.where(F.col(right_key) == F.col(left_key).outer()).orderBy(
        *order
    ).limit(k)
    if select is not None:
        sub = sub.select(*select)
    return left.lateralJoin(sub)


def window_distinct(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    order_cols: Sequence[str],
    n: int = 10,
) -> DataFrame:
    """Sliding DISTINCT count: per row, the number of distinct values
    of ``value_col`` in the trailing ``n``-row frame of its partition
    — SQL's ``COUNT(DISTINCT x) OVER (... ROWS n-1 PRECEDING)``, which
    neither Spark nor most engines accept directly (DISTINCT window
    aggregates are unsupported), expressed as the bounded-frame
    composition ``size(array_distinct(collect_list(x) OVER frame))``.

    The frame list is ≤ n elements per row — constant state, the same
    bound :func:`~.events.rolling_median` rides — so this stays
    row-local after the partition's one shuffle; it is NOT the
    unbounded-frame trap (``collect_list`` over a whole partition),
    which would be O(partition) per row.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    return df.select(
        partition_col,
        *order_cols,
        F.size(F.array_distinct(F.collect_list(value_col).over(w)))
        .cast("long")
        .alias("n_distinct"),
    )


def weighted_median(
    df: DataFrame,
    key_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total — the
    order-statistic no engine exposes as a weighted aggregate
    (``quantile_cont`` is unweighted), expressed as one windowed
    cumulative sum + one min-election.

    Integer-exact: values quantize to cents and weights to integers,
    the reach test is ``2·cumw ≥ totw`` (never a 0.5·total float), and
    the winning value per group is a packed-struct min — so the result
    is bit-stable and the DuckDB oracle hash-matches.  Two shuffles,
    both keyed on the group: the window pass and the final groupBy;
    the window partition is the group's value domain.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    wgt = F.col(weight_col).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(cents, F.col(weight_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(key_col)
    cum = df.select(
        F.col(key_col),
        cents.alias("c"),
        F.sum(wgt).over(w).alias("cumw"),
        F.sum(wgt).over(wt).alias("totw"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy(key_col)
        .agg(
            F.max("totw").cast("long").alias("total_weight"),
            F.round(F.min("c") / 100.0, 6).alias("weighted_median"),
        )
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: a fixed sample
    budget split across strata ∝ N_h·σ_h (stratum size × stratum
    std) — the variance-minimizing design for estimating the
    population mean, and the principled upgrade to
    :func:`sample_stratified`'s proportional allocation when strata
    have very different spreads.

    Exact moments: values quantize to cents; Σx is an exact BIGINT
    and Σx² accumulates in DECIMAL(38,0) — cents² alone is ~10¹⁵, so
    a BIGINT Σx² wraps (ANSI: errors) beyond ~10⁴ rows per stratum;
    the decimal matches the oracle's HUGEINT exactly.  The σ closed
    form then converts each exact integer to double ONCE (same
    nearest-double on both engines) so the 6-dp result is engine-
    stable.  One partial-agged shuffle to the |strata|-row table plus
    a 1-row broadcast total.  Returns ``(stratum, n_rows, sigma,
    alloc_share)``.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    c_dec = cents.cast("decimal(19,0)")
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(cents).alias("s1"),
        F.sum(c_dec * c_dec).alias("s2"),
    )
    n = F.col("n_rows")
    # population variance in centi-units², from exact integer sums
    sigma = F.sqrt(
        (n.cast("double") * F.col("s2") - F.col("s1").cast("double") * F.col("s1"))
    ) / n / 100.0
    scored = per.select("stratum", "n_rows", sigma.alias("sig"))
    tot = scored.agg(F.sum(n * F.col("sig")).alias("t"))
    return scored.join(F.broadcast(tot)).select(
        "stratum",
        "n_rows",
        F.round("sig", 6).alias("sigma"),
        F.round(n * F.col("sig") / F.col("t"), 6).alias("alloc_share"),
    )


def gini_index(
    per_entity: DataFrame,
    group_col: str,
    id_col: str,
    cents_col: str,
) -> DataFrame:
    """Per-group Gini coefficient over non-negative entity values —
    THE inequality/concentration summary (0 = perfectly even,
    →1 = one entity holds everything), the single-number companion to
    :func:`revenue_concentration`'s Pareto table: how concentrated is
    spend across customers, tokens across documents, traffic across
    sources.

    Exact rank closed form: with entities sorted ascending inside the
    group, G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx).  The rank i is a
    row_number over the (value, id) total order — order-invariant
    within a tie block because consecutive ranks multiply EQUAL values
    — and Σi·xᵢ accumulates in DECIMAL(38,0) (rank × cents exceeds
    BIGINT headroom at corpus scale; matches the oracle's HUGEINT).
    One division at the end; a zero-total group is NULL via
    try_divide, not an ANSI error.

    Scale shape: one group-keyed window exchange (partition = group,
    the :func:`weighted_median` class) + one partial-agged groupBy to
    the |groups|-row result.  Input is pre-aggregated per-entity cents
    (domain = entities, not raw rows).
    """
    wo = Window.partitionBy(group_col).orderBy(
        F.col(cents_col).asc(), F.col(id_col).asc()
    )
    ranked = per_entity.select(
        F.col(group_col),
        F.col(cents_col).alias("x"),
        F.row_number().over(wo).cast("long").alias("i"),
    )
    g = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("total_cents"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("six"),
    )
    n = F.col("n").cast("decimal(38,0)")
    sx = F.col("total_cents").cast("decimal(38,0)")
    num = (2 * F.col("six") - (n + 1) * sx).cast("double")
    den = (n * sx).cast("double")
    return g.select(
        group_col,
        "n",
        "total_cents",
        F.round(F.try_divide(num, F.nullif(den, F.lit(0.0))), 6).alias("gini"),
    )


def _pos_div(a: Column, b: Column) -> Column:
    """Exact integer floor division for NON-NEGATIVE operands as a
    Column: the pmod-adjusted numerator divides evenly, and the
    division runs in DECIMAL(38,0) so quotients stay exact beyond 2⁵³
    (the events._floor_div lesson; this copy drops the negative-sign
    handling because every ntile rank/size here is ≥ 0)."""
    return (
        (a - F.pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)")
    ).cast("long")


def bucketed_cum_counts(
    per: DataFrame,
    order_col: str,
    sums: Sequence[tuple[str, str]],
    ascending: bool = True,
    n_buckets: int = 8192,
    partition_cols: Sequence[str] = (),
    tiebreak_cols: Sequence[str] = (),
    with_totals: bool = False,
) -> DataFrame:
    """Fully parallel inclusive cumulative sums over a total order —
    the bucketed two-pass that replaces ``Window.orderBy(v)`` over a
    value-domain table.  The distinct-value collapse (round 10)
    already shrank the rank family's ordered window to the DOMAIN
    table, but a near-row-cardinality domain (continuous model scores,
    unique monetary cents) still funneled ~N (value, count) rows
    through ONE cumulative-window task.  This generalizes the
    :func:`~..operators.corpus.shard_assign` prefix-bucket discipline
    to an arbitrary NUMERIC total order:

    1. one 1-row (min, max) aggregate broadcasts back (the tfidf-style
       scalar attach) and every row gets a DETERMINISTIC equi-width
       cell id ``pmod(least(K−1, floor((v−mn)·K/span)), K)`` — a pure
       function of the VALUE, monotone non-decreasing in the order, so
       bucketing is order-consistent by construction.  Deliberately
       NOT ``repartitionByRange`` + ``spark_partition_id()``: range
       boundaries come from a reservoir sample of the child, and when
       the exchange is NOT reused between this frame's two consumers
       (AQE reuse is an optimization, not a guarantee) the two
       materializations can sample DIFFERENT boundaries — bucket ids
       would disagree between the offsets branch and the join branch
       and the offsets silently corrupt (observed intermittently at
       sf0.01).  Min/max are order-independent aggregates: re-
       evaluation always yields the same cells;
    2. per-cell totals (a ≤ ``n_buckets``-row aggregate), prefix-
       summed with ONE ordered window over that cell-domain frame —
       the only unpartitioned window, provably bounded because its
       grouping key is the pmod-literal cell expression (the plan
       guard's strict prover accepts exactly this shape);
    3. broadcast the offsets back and rank WITHIN (cell) — a
       partitioned window, fully parallel however unique the value
       domain is.

    Cell boundaries only affect load balance, never values: any
    order-consistent assignment yields the same cumulative sums.
    Equi-width cells balance worse than sampled quantiles under skew,
    but a cell only overloads when >domain/K of the DISTINCT VALUES
    concentrate in 1/K of the range — and the adversarial case
    (massive mass on few values) is exactly the tie-heavy shape whose
    domain table is small anyway.  K = 8192 keeps per-cell work at
    ~domain/8192 rows while the offset frame stays window-trivial.

    ``per`` must be a DOMAIN table:
    ``partition_cols + [order_col] + tiebreak_cols`` unique per row
    (a ``groupBy`` output) with a NUMERIC ``order_col``, so the cell
    assignment and the within-cell order agree on one total order
    (``tiebreak_cols`` break ties in ``order_col`` ascending — the
    ``ORDER BY cents DESC, key ASC`` shape).  ``sums`` maps input
    count columns to output running-sum names; ``with_totals`` adds a
    ``<dst>_tot`` grand total per partition group (computed on the
    tiny cell-totals frame, not the data).  NULL order values sort
    exactly where the replaced window put them (first under ASC, last
    under DESC — see the cell-0 coalesce below).  Cost note: the
    domain frame feeds THREE consumers (the min/max scalar, the cell
    totals, the join-back), and AQE does NOT reuse a shared aggregate
    stage across branches (measured, round 11 — a plan-scan audit
    counted the rank family's callers at 4–30 base-table scans per
    query), so ``per`` is lazily
    checkpointed here: the first action computes the domain collapse
    ONCE and every branch reads the persisted blocks.  The storage
    footprint is the NARROW domain table — (order, tiebreaks, counts)
    rows, never raw text (the dedup.py PB-materialization lesson
    bounds what may be materialized, not whether).  Returns ``per``'s
    columns plus the requested cumulative columns (LONG).
    """
    from ._materialize import materialize_once

    per = materialize_once(per)
    vo = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    vo += [F.col(c).asc() for c in tiebreak_cols]
    parts = list(partition_cols)
    # (min, max) as LITERALS, collected once from the checkpointed
    # blocks at construction (round 12, guide §2.4/§7.3): the
    # broadcast-join form compiled the 1-row aggregate into EVERY
    # consumer branch — the cell-totals branch and the join-back each
    # carried their own partial+final aggregate stages plus a
    # BroadcastExchange (AQE does not dedupe sibling subtrees), i.e.
    # four extra stages and two broadcasts per call.  The scalar is
    # the same bounded-collect class as the similarity codebook fits
    # (2 doubles, never row-sized); the blocks it reads are already
    # materialized by the eager checkpoint above, and the resulting
    # cell expression is a pure literal function of the value — the
    # exact shape the plan guard's grouping-key tracer proves bounded.
    mn_val, mx_val = per.agg(
        F.min(order_col).cast("double"),
        F.max(order_col).cast("double"),
    ).collect()[0]
    # monotone non-decreasing in v (floor of a positive-scaled exact
    # double difference), so equal values share a cell and cells
    # respect the order; the scale divides by the RAW range (a `+1`
    # pad would be harmless for integer cents but collapses a
    # narrow-range DOUBLE domain — scores in [0.4999, 0.5001] — into
    # ~2 cells), least() caps the v == max edge onto the last cell,
    # and pmod() is a no-op on [0, K−1] that makes the bounded image
    # PROVABLE to the plan guard's grouping-key tracer.  A NULL value
    # COALESCEs into cell 0, which reproduces the replaced window's
    # null placement in BOTH directions: ascending offsets walk cell 0
    # first and the within-cell `v ASC` sort puts NULLs before values
    # (Spark NULLS FIRST); descending offsets walk cell 0 last and
    # `v DESC` puts NULLs after (NULLS LAST).  Without the coalesce,
    # least() SKIPS the null floor() and silently sent NULLs to the
    # LAST cell — wrong side under ascending order (round-11 review).
    # scale computed driver-side with the SAME IEEE-double arithmetic
    # the broadcast form ran in the JVM (one division, one subtract —
    # bit-identical): rng > 0 must follow Spark's NaN ordering (NaN
    # compares greater than any value, so a NaN range kept the raw
    # K/rng = NaN scale rather than the degenerate-range 1.0 branch)
    if mn_val is None or mx_val is None:
        rng_val = None
    else:
        rng_val = mx_val - mn_val
    if rng_val is not None and (rng_val > 0 or rng_val != rng_val):
        scale_val = float(n_buckets) / rng_val
    else:
        scale_val = float(n_buckets) / 1.0
    mn_lit = F.lit(mn_val).cast("double")
    cell = F.pmod(
        F.least(
            F.lit(n_buckets - 1),
            F.coalesce(
                F.floor(
                    (F.col(order_col).cast("double") - mn_lit)
                    * F.lit(scale_val)
                ).cast("long"),
                F.lit(0),
            ),
        ),
        F.lit(n_buckets),
    ).cast("long")
    bkt = per.withColumn("__bkt", cell)
    btot = bkt.groupBy(*parts, "__bkt").agg(
        *[F.sum(src).cast("long").alias(f"__bs_{i}") for i, (src, _) in enumerate(sums)]
    )
    # cells ascend with v, so the cross-cell prefix order follows the
    # requested direction by flipping the cell order, not the cell id
    # (which must stay the raw pmod expression for the plan guard)
    bo = F.col("__bkt").asc() if ascending else F.col("__bkt").desc()
    w_off = (
        Window.partitionBy(*parts)
        .orderBy(bo)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [
        F.coalesce(F.sum(f"__bs_{i}").over(w_off), F.lit(0))
        .cast("long")
        .alias(f"__off_{i}")
        for i in range(len(sums))
    ]
    if with_totals:
        w_tot = Window.partitionBy(*parts).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        off_cols += [
            F.sum(f"__bs_{i}").over(w_tot).cast("long").alias(f"{dst}_tot")
            for i, (_, dst) in enumerate(sums)
        ]
    offs = btot.select(*parts, "__bkt", *off_cols)
    w_in = (
        Window.partitionBy(*parts, "__bkt")
        .orderBy(*vo)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL-SAFE join-back (ADVICE r11): a plain equi-join on parts
    # would silently DROP every row whose partition key is NULL — the
    # groupBy and the offset window both keep NULL groups, so the NULL
    # group's offsets exist in ``offs`` but a `=` key never matches
    # them.  The offset side's key columns are renamed so the
    # condition references two distinct attributes (offs derives from
    # bkt — same-name columns would resolve one side).  ``__bkt``
    # itself is never NULL (the cell expression coalesces to 0).
    offs = offs.select(
        *[F.col(c).alias(f"__ok_{i}") for i, c in enumerate(parts)],
        F.col("__bkt").alias("__okb"),
        *[c for c in offs.columns if c not in set(parts) | {"__bkt"}],
    )
    cond = F.col("__bkt") == F.col("__okb")
    for i, c in enumerate(parts):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__ok_{i}"))
    joined = bkt.join(F.broadcast(offs), cond).drop(
        "__okb", *[f"__ok_{i}" for i in range(len(parts))]
    )
    out_cols = [
        (F.col(f"__off_{i}") + F.sum(src).over(w_in)).cast("long").alias(dst)
        for i, (src, dst) in enumerate(sums)
    ]
    if with_totals:
        out_cols += [F.col(f"{dst}_tot") for _, dst in sums]
    return joined.select(*per.columns, *out_cols)


def exact_ntile(
    df: DataFrame,
    n_tiles: int,
    value_col: Column,
    id_col: Column,
    ascending: bool = True,
    out_col: str = "bucket",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY value [DESC], id ASC)`` without
    the single-partition sort — the scale-safe global-rank bucket
    assignment :func:`rfm_segments` and ``lift_table`` ride on.  A
    naive unpartitioned ntile window moves EVERY row to one task (the
    ``WindowExec: No Partition Defined`` warning); this computes the
    identical bucket (SQL ntile remainder semantics: with N rows the
    first ``N mod n`` buckets get ``N div n + 1`` rows) in two
    distributed passes, the :func:`~..operators.corpus.shard_assign` /
    ``histogram_equidepth`` discipline adapted to an arbitrary total
    order:

    1. collapse to the DISTINCT value domain (hash aggregate), then
       compute each value's strictly-below row count ``cb`` and the
       total N with :func:`bucketed_cum_counts` — range-bucket
       partials, a bucket-domain cumulative offset, then per-bucket
       PARTITIONED ranks, so even a NEAR-UNIQUE continuous domain
       (unique monetary cents, model scores) never funnels one
       cumulative-window task (the round-10 residual) — and derive
       each tie group's start/end bucket from the exact ntile
       arithmetic — pure integer expressions;
    2. join the per-value frame back by value (equi-join, AQE picks
       broadcast when the domain is small — it may be row-sized, e.g.
       near-unique monetary cents, so it is never force-broadcast): a
       group whose row span ``[cb+1, cb+t]`` sits inside one bucket
       takes that bucket outright; only the ≤ ``n−1`` STRADDLING
       groups (each of the ``n−1`` boundaries is crossed by at most
       one tie group) consult the row's rank-within-value.  The rank
       window partitions by value and rides the join's existing hash
       partitioning — a local sort within tasks, NO extra exchange
       and no single-partition funnel.

    The plan is LINEAR (the input subtree appears once per side of
    one join — no flat/straddle union that would double lineage, so
    callers can apply it repeatedly without exponential plan growth).
    Degenerate worst case — one giant all-tied group — costs that
    group's within-task sort, which is exactly where a naive
    unpartitioned ntile ALWAYS was for the whole table; every other
    shape runs fully parallel.  Output: the input columns plus
    ``out_col`` (1-based bucket, LONG).

    ``partition_cols`` (round-11 optimization pass) computes an
    INDEPENDENT ntile per group of existing columns — the stacked
    form: k metrics exploded into (metric_id, value) rows get their k
    ntile assignments from ONE domain collapse, ONE
    :func:`bucketed_cum_counts` barrier and ONE join-back, instead of
    k full machines (each with its own checkpoint barrier and
    exchanges).  N, the remainder arithmetic and the straddle rank
    are all evaluated per partition group; with the default ``()``
    the behavior is bit-identical to the ungrouped form.
    """
    parts = list(partition_cols)
    base = df.withColumn("__v", value_col).withColumn("__i", id_col)
    per = base.groupBy(*parts, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__t")
    )
    dom = bucketed_cum_counts(
        per,
        "__v",
        [("__t", "__ct")],
        ascending=ascending,
        with_totals=True,
        partition_cols=parts,
    ).select(
        *parts,
        "__v",
        "__t",
        (F.col("__ct") - F.col("__t")).cast("long").alias("__cb"),
        F.col("__ct_tot").cast("long").alias("__n"),
    ).select(
        *parts,
        "__v",
        "__t",
        "__cb",
        _pos_div(F.col("__n"), F.lit(n_tiles)).alias("__bsz"),
        F.pmod(F.col("__n"), F.lit(n_tiles)).cast("long").alias("__rem"),
    )

    def _bucket_of(rn: Column) -> Column:
        # SQL ntile: first __rem buckets hold __bsz+1 rows.  Integer
        # ceil via (x + d − 1) div d; greatest() keeps the untaken
        # __bsz = 0 branch from dividing by zero.
        big = F.col("__rem") * (F.col("__bsz") + 1)
        first = _pos_div(rn + F.col("__bsz"), F.col("__bsz") + 1)
        rest = F.col("__rem") + _pos_div(
            rn - big + F.col("__bsz") - 1, F.greatest(F.col("__bsz"), F.lit(1))
        )
        return F.when(rn <= big, first).otherwise(rest)

    spanned = dom.select(
        *[F.col(c).alias(f"__d_{c}") for c in parts],
        F.col("__v").alias("__dv"),
        "__cb",
        "__bsz",
        "__rem",
        _bucket_of(F.col("__cb") + 1).alias("__b0"),
        _bucket_of(F.col("__cb") + F.col("__t")).alias("__b1"),
    )
    cond = base["__v"].eqNullSafe(spanned["__dv"])
    for c in parts:
        cond = cond & base[c].eqNullSafe(spanned[f"__d_{c}"])
    joined = base.join(spanned, cond, "inner")
    ws = Window.partitionBy(*parts, "__v").orderBy(F.col("__i").asc())
    bucket = F.when(F.col("__b0") == F.col("__b1"), F.col("__b0")).otherwise(
        _bucket_of(F.col("__cb") + F.row_number().over(ws))
    )
    helper = ["__v", "__i", "__dv", "__cb", "__bsz", "__rem", "__b0", "__b1"]
    helper += [f"__d_{c}" for c in parts]
    return joined.withColumn(out_col, bucket.cast("long")).drop(*helper)


def percent_rank_global(
    df: DataFrame,
    value_col: Column,
    id_col: Column,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Exact global ``percent_rank()`` for EVERY row — quantile
    normalization, the preprocessing step behind calibration curves,
    rank-transformed features, and cross-corpus score alignment.
    ``percent_rank = (r − 1)/(N − 1)`` with r the tie group's minimum
    rank (SQL semantics: ties share).

    A naive ``percent_rank() OVER (ORDER BY v)`` is the canonical
    100 TB scale-killer: every row through ONE window task.  Shape
    here: distinct-value collapse, strictly-below counts from
    :func:`bucketed_cum_counts` (range-free deterministic cells,
    fully parallel even when the value domain is near-row-unique),
    one equi-join back — the round-11 rank primitive exposed as a
    user-facing normalizer.  The one division runs in double over
    exact BIGINTs, identically on both engines; a single-row input
    yields 0.0 (the SQL convention), not a division error.

    Returns the input's ``__id``/``__v`` projections plus
    ``out_col``, 6-dp rounded.
    """
    base = df.select(id_col.alias("__id"), value_col.alias("__v"))
    per = base.groupBy("__v").agg(F.count(F.lit(1)).cast("long").alias("__t"))
    dom = bucketed_cum_counts(
        per, "__v", [("__t", "__ct")], with_totals=True
    ).select(
        "__v",
        (F.col("__ct") - F.col("__t")).cast("long").alias("__cb"),
        F.col("__ct_tot").cast("long").alias("__n"),
    )
    pr = F.coalesce(
        F.try_divide(
            F.col("__cb").cast("double"), (F.col("__n") - 1).cast("double")
        ),
        F.lit(0.0),
    )
    # null-SAFE equi-join: a plain `__v` join key drops every NULL
    # value row, while percent_rank() emits them (ranked first, the
    # Spark NULLS FIRST convention the cell-0 coalesce preserves);
    # the domain side's key is renamed so the condition references
    # two distinct attributes (dom derives from base — same-name
    # columns would resolve to one side and compare trivially true)
    dom = dom.withColumnRenamed("__v", "__vd")
    return base.join(dom, F.col("__v").eqNullSafe(F.col("__vd"))).select(
        "__id", "__v", F.round(pr, 6).alias(out_col)
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation — the classic customer-value grid: per
    customer, Recency (days since last order), Frequency (order
    count), Monetary (total spend), each scored into quintiles
    (5 = best), then customers counted per (R, F, M) cell — the
    "champions / at-risk / hibernating" map every CRM runs.

    Determinism: each ntile orders by (metric, custkey) — a total
    order, so bucket assignment is engine-stable, and ntile's
    first-buckets-get-the-remainder split is identical in Spark and
    DuckDB (:func:`exact_ntile` reproduces it bit-for-bit).  Recency
    ranks DESCENDING (oldest first) so the most recent customers land
    in the top bucket; frequency/monetary rank ascending.  Metrics
    are exact BIGINTs (days, counts, cents); the per-cell average
    spend is one division at the end.

    Scale shape (round-11 optimization pass): one per-customer
    partial-agged groupBy, a 1-row max-date broadcast, then ONE
    stacked :func:`exact_ntile` pass — the three metrics explode into
    (metric_id, value) rows (3 rows per customer; recency NEGATES so
    its DESC order becomes the shared ASC order — strictly monotone,
    so tie groups, N and the ntile arithmetic are bit-identical) and
    ``partition_cols=["__m"]`` scores all three in one domain
    collapse, one checkpoint barrier and one join-back, NEVER an
    unpartitioned ntile window (billions of customers is exactly the
    100× case where a single-partition sort of the customer table
    dies).  One groupBy(cust) un-stacks the scores (replacing the two
    customer-key re-joins of the per-metric form), then a partial-
    agged groupBy to the ≤ n_tiles³ cell table.  vs the three-pass
    form: 4 checkpoint barriers → 2, 22 exchanges → 8, and the
    orders scan count is unchanged (1).
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    mx = orders.agg(F.max(F.to_date(date_col)).alias("max_d"))
    per = (
        orders.groupBy(F.col(cust_col).alias("cust"))
        .agg(
            F.max(F.to_date(date_col)).alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(cents).cast("long").alias("mon"),
        )
        .join(F.broadcast(mx))
        .select(
            "cust",
            F.datediff("max_d", "last_d").cast("long").alias("rec"),
            "freq",
            "mon",
        )
    )
    # ONE stacked bucketing instead of three independent per-metric
    # machines: the customer-domain table materializes once (its only
    # consumer below is the explode, but the STACKED frame feeds both
    # the ntile domain collapse and the join-back — without the
    # barrier each branch would re-run the orders groupBy; round 11
    # measured this query at 30 orders scans pre-discipline), the
    # metrics explode into (metric_id, value) rows, and one
    # partitioned exact_ntile scores all three.  Recency negates so
    # its DESCENDING rank order becomes the shared ascending one —
    # strictly monotone, hence identical tie groups and buckets.
    from ._materialize import materialize_once

    per = materialize_once(per)
    # NULL recency (a customer whose dates all parse to NULL): the
    # pre-stacking form ordered rec DESC, which puts NULLs LAST; the
    # negated ascending order would flip them FIRST (bucket 1 instead
    # of n_tiles — ADVICE r11).  Coalesce to LONG_MAX: every real
    # -rec is ≤ 0, so the sentinel sorts strictly after all values and
    # NULL-rec customers form one tie group at the end — exactly the
    # replaced NULLS LAST placement, bit-identical buckets.
    stacked = per.select(
        "cust",
        F.posexplode(
            F.array(
                F.coalesce(
                    (-F.col("rec")).cast("long"),
                    F.lit(9223372036854775807).cast("long"),
                ),
                F.col("freq").cast("long"),
                F.col("mon").cast("long"),
            )
        ).alias("__m", "__mv"),
    )
    scored = exact_ntile(
        stacked,
        n_tiles,
        F.col("__mv"),
        F.col("cust"),
        ascending=True,
        out_col="score",
        partition_cols=["__m"],
    )
    unstacked = scored.groupBy("cust").agg(
        F.max(F.when(F.col("__m") == 0, F.col("score"))).alias("r_score"),
        F.max(F.when(F.col("__m") == 1, F.col("score"))).alias("f_score"),
        F.max(F.when(F.col("__m") == 2, F.col("score"))).alias("m_score"),
        F.max(F.when(F.col("__m") == 2, F.col("__mv"))).alias("mon"),
    )
    return unstacked.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(
            F.try_divide(
                F.sum("mon").cast("double") / 100.0,
                F.count(F.lit(1)).cast("double"),
            ),
            6,
        ).alias("avg_monetary"),
    )


def column_profile(
    df: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Per-column data-quality profile — the ingest-time table summary
    every pipeline prints before anything trains: row count, NULL
    count, exact distinct count, and min/max (stringified on the
    NATIVE type, so numeric columns report numeric extremes, not
    lexicographic ones).

    Shape at scale: ONE global aggregate computes all 4·k statistics
    (count_distinct over k columns costs Catalyst's Expand — a k×
    map-side row amplification, no extra shuffle rounds), then a
    map-side ``stack`` unpivots the single row to k output rows.  The
    corpus is scanned once, shuffled never (partial aggs only).
    Returns ``(column, n_rows, n_null, n_distinct, min_value,
    max_value)`` — one row per requested column.
    """
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"__n_{c}"),
            F.sum(col.isNull().cast("long")).cast("long").alias(f"__z_{c}"),
            F.count_distinct(col).cast("long").alias(f"__d_{c}"),
            F.min(col).cast("string").alias(f"__lo_{c}"),
            F.max(col).cast("string").alias(f"__hi_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, coalesce(__z_{c}, 0), __d_{c}, __lo_{c}, __hi_{c}"
        for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) as "
            "(column, n_rows, n_null, n_distinct, min_value, max_value)"
        )
    )


def fk_audit(
    child: DataFrame,
    fk_col: str,
    parent: DataFrame,
    pk_col: str,
    relation: str,
) -> DataFrame:
    """Referential-integrity audit for one foreign-key edge — the
    orphan count a pipeline checks BEFORE joining 100 TB of facts
    against a dimension (a silent orphan row becomes a silently
    dropped row in every downstream inner join): child rows whose
    ``fk_col`` has no match in ``parent.pk_col`` (NULL fks count as
    orphans — they too vanish from an inner join).

    Shape: one LEFT ANTI join (broadcast for dimension-sized parents
    under AQE) + two 1-row aggregates; exact BIGINTs, one final
    division.  Returns one row ``(relation, n_child, n_orphans,
    orphan_share)``.
    """
    n_child = child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
    orphans = child.join(
        parent.select(F.col(pk_col).alias("__pk")),
        F.col(fk_col) == F.col("__pk"),
        "left_anti",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
    return (
        n_child.join(F.broadcast(orphans))
        .select(
            F.lit(relation).alias("relation"),
            "n_child",
            "n_orphans",
            F.round(
                F.try_divide(
                    F.col("n_orphans").cast("double"),
                    F.nullif(F.col("n_child").cast("double"), F.lit(0.0)),
                ),
                6,
            ).alias("orphan_share"),
        )
    )


def cohens_kappa(
    df: DataFrame,
    col_a: Column,
    col_b: Column,
) -> DataFrame:
    """Cohen's κ chance-corrected agreement between two categorical
    labelings of the same rows — the annotator-agreement /
    classifier-vs-classifier number every labeling pipeline reports
    (raw accuracy flatters agreement when the label distribution is
    skewed; κ subtracts the agreement two independent raters with
    these marginals would reach by chance):
    ``κ = (p_o − p_e) / (1 − p_e)`` with p_o = Σdiag/N and
    p_e = Σ_k row_k·col_k / N².

    Exactness: one groupBy to the (a, b) contingency domain, marginals
    as two domain-sized rollups joined back by label (broadcast-sized
    in any real label space), Σdiag and the Σrow·col products carried
    in DECIMAL(38,0) (row·col reaches N² — wraps BIGINT at ~3e9 rows),
    p_o/p_e/κ as single divisions of exact integers.  A single-label
    domain (p_e = 1) is NULL via try_divide, not an ANSI error.
    Returns one row ``(n, p_o, p_e, kappa)``.
    """
    obs = df.select(col_a.alias("a"), col_b.alias("b")).groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rm = obs.groupBy("a").agg(F.sum("o").cast("long").alias("r"))
    cm = obs.groupBy(F.col("b").alias("bb")).agg(F.sum("o").cast("long").alias("c"))
    # diagonal mass: per-label rows where a == b
    diag = obs.filter(F.col("a").eqNullSafe(F.col("b"))).agg(
        F.coalesce(F.sum("o"), F.lit(0)).cast("long").alias("d")
    )
    # chance mass: Σ row_k · col_k over the label domain (labels in
    # only one marginal contribute 0 — inner join is exact)
    pe_sum = rm.join(cm, rm["a"].eqNullSafe(cm["bb"])).agg(
        F.coalesce(
            F.sum(F.col("r").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")),
            F.lit(0),
        ).cast("decimal(38,0)").alias("rc")
    )
    n = obs.agg(F.coalesce(F.sum("o"), F.lit(0)).cast("long").alias("n"))
    j = n.join(F.broadcast(diag)).join(F.broadcast(pe_sum))
    nn = F.col("n").cast("double")
    po = F.try_divide(F.col("d").cast("double"), F.nullif(nn, F.lit(0.0)))
    pe = F.try_divide(
        F.col("rc").cast("double"), F.nullif(nn * nn, F.lit(0.0))
    )
    kappa = F.try_divide(po - pe, F.nullif(F.lit(1.0) - pe, F.lit(0.0)))
    return j.select(
        "n",
        F.round(po, 6).alias("p_o"),
        F.round(pe, 6).alias("p_e"),
        F.round(kappa, 6).alias("kappa"),
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    k_threshold: int = 5,
) -> DataFrame:
    """k-anonymity / l-diversity audit over a quasi-identifier set —
    the privacy gate a training-data release runs BEFORE publishing:
    every row must hide in an equivalence class of ≥ k rows sharing
    its quasi-identifiers (k-anonymity), and each class must span ≥ l
    distinct sensitive values (l-diversity — k alone fails when a
    class is sensitive-homogeneous).  Reports the corpus-wide minima
    and the re-identification exposure mass under ``k_threshold``.

    Exactness: one (quasi-tuple)-keyed partial-agged groupBy produces
    class sizes and per-class distinct-sensitive counts (exact
    BIGINTs); the summary row is a second aggregate; the exposure
    percentage is the single final division.

    Scale shape: one shuffle to the equivalence-class domain table,
    one 1-row rollup — the same two-exchange shape as group_agg, at
    any corpus size.  Returns one row ``(n_rows, n_classes,
    k_anonymity, l_diversity, n_rows_below_k, pct_below_k)``.
    """
    per = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias("l"),
    )
    g = per.groupBy().agg(
        F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("sz").alias("k_anonymity"),
        F.min("l").alias("l_diversity"),
        F.coalesce(
            F.sum(F.when(F.col("sz") < k_threshold, F.col("sz"))), F.lit(0)
        ).cast("long").alias("n_rows_below_k"),
    )
    return g.select(
        "n_rows",
        "n_classes",
        "k_anonymity",
        "l_diversity",
        "n_rows_below_k",
        F.round(
            F.try_divide(
                F.col("n_rows_below_k").cast("double"),
                F.nullif(F.col("n_rows").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("pct_below_k"),
    )
