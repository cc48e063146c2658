"""Round-12 optimization-pass tests: js_divergence against a
pure-Python JSD, the literal-min/max bucketed_cum_counts cells, NULL handling
in the rank machinery (ADVICE r11), the assortativity symmetric-sum
rewrite, and the non-finite / INT_MIN literal-table edges."""

from __future__ import annotations

import itertools
import math
import os
import re
import sys
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_faultolerrant_localityaware_spark.functions.vectors import (
    lit_double_array,
    lit_int_array,
)
from mapreduce_faultolerrant_localityaware_spark.operators import corpus, graph
from mapreduce_faultolerrant_localityaware_spark.operators.relational import (
    exact_ntile,
    rfm_segments,
)


# ---------------------------------------------------------------------------
# js_divergence against a pure-Python JSD
# ---------------------------------------------------------------------------

def _jsd_docs(spark):
    rows = []
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "the five boxing wizards jump quickly over it",
        "sphinx of black quartz judge my vow now",
    ]
    for i in range(120):
        rows.append((i, f"s{i % 4}", texts[i % 4] + f" extra{i % 7} tail{i % 3}"))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _half_up(x: float, places: int) -> float:
    """Spark's ``round``: HALF_UP on the double's exact decimal value."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _py_jsd(rows):
    """Pairwise JSD of the slices' unigram counts, add-one smoothed
    over the corpus vocabulary V: each union token's term rounds to
    integer nano units before summation, and the V − |union| tokens
    in neither slice add one closed-form term each."""
    counts = {}
    for _, src, text in rows:
        c = counts.setdefault(src, Counter())
        c.update(re.findall(r"[^\W\d_]+", text))
    v = len(set().union(*counts.values()))

    def term(ca, cb, na, nb):
        pa, pb = (ca + 1.0) / (na + v), (cb + 1.0) / (nb + v)
        m = (pa + pb) / 2
        return 0.5 * pa * math.log(pa / m) + 0.5 * pb * math.log(pb / m)

    out = []
    for a, b in itertools.combinations(sorted(counts), 2):
        ca, cb = counts[a], counts[b]
        na, nb = sum(ca.values()), sum(cb.values())
        union = set(ca) | set(cb)
        s_nano = sum(int(_half_up(term(ca[t], cb[t], na, nb) * 1e9, 0)) for t in union)
        tail = (v - len(union)) * term(0, 0, na, nb)
        out.append((a, b, na, nb, len(union), _half_up(s_nano / 1e9 + tail, 6)))
    return out


def test_js_divergence_paths_identical(spark):
    """js_divergence equals a pure-Python JSD of the same 120 docs:
    exact slice totals and union sizes, JSD to its 6 rounded places."""
    docs = _jsd_docs(spark)
    got = [tuple(r) for r in corpus.js_divergence(docs).collect()]
    want = _py_jsd(docs.collect())
    assert len(got) == 6  # 4 sources -> 6 pairs
    assert [g[:5] for g in got] == [w[:5] for w in want]
    assert [g[5] for g in got] == pytest.approx([w[5] for w in want], abs=1e-6)


# ---------------------------------------------------------------------------
# exact_ntile / bucketed_cum_counts: NULL partition keys survive the
# offsets join-back (ADVICE r11 — a plain equi-join dropped them)
# ---------------------------------------------------------------------------

def test_exact_ntile_null_partition_group_kept(spark):
    rows = [(None if i % 3 == 0 else f"g{i % 3}", i, float(i % 17)) for i in range(90)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = exact_ntile(
        df, 4, F.col("v"), F.col("id"), out_col="bucket", partition_cols=["g"]
    )
    got = out.groupBy("g").count().collect()
    counts = {r["g"]: r["count"] for r in got}
    assert counts.get(None) == 30, f"NULL group rows lost: {counts}"
    # per-group buckets must each match the single-group run on that slice
    null_only = exact_ntile(
        df.where(F.col("g").isNull()), 4, F.col("v"), F.col("id"), out_col="bucket"
    )
    a = sorted((r["id"], r["bucket"]) for r in out.where(F.col("g").isNull()).collect())
    b = sorted((r["id"], r["bucket"]) for r in null_only.collect())
    assert a == b


# ---------------------------------------------------------------------------
# rfm_segments: NULL recency lands in the TOP bucket (the pre-stacking
# `rec DESC NULLS LAST` placement — ADVICE r11)
# ---------------------------------------------------------------------------

def test_rfm_null_recency_nulls_last(spark):
    rows = []
    for c in range(1, 21):
        rows.append((c, "1995-01-%02d" % min(c, 28), 100.0 + c))
    rows.append((99, None, 500.0))  # all-NULL order dates -> NULL recency
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate string, o_totalprice double"
    )
    per = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d")
    )
    assert per.where(F.col("o_custkey") == 99).collect()[0]["last_d"] is None
    # the null-recency customer must take the HIGHEST r_score present
    # for its tie position (sorted last in the negated ascending order)
    seg = rfm_segments(orders)
    assert seg.agg(F.sum("n_customers")).collect()[0][0] == 21
    # reference: the pre-stacking per-metric form — SQL ntile with
    # rec DESC **NULLS LAST** (tiny input, a test-only window is fine)
    from pyspark.sql import Window

    mx = orders.agg(F.max(F.to_date("o_orderdate")).alias("max_d"))
    per = (
        orders.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("mon"),
        )
        .join(F.broadcast(mx))
        .select(
            "cust",
            F.datediff("max_d", "last_d").cast("long").alias("rec"),
            "freq",
            "mon",
        )
    )
    ref = per.select(
        "cust",
        "mon",
        F.ntile(5)
        .over(Window.orderBy(F.desc_nulls_last("rec"), F.asc("cust")))
        .cast("long")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("freq"), F.asc("cust")))
        .cast("long")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("mon"), F.asc("cust")))
        .cast("long")
        .alias("m_score"),
    )
    ref_cells = sorted(
        map(
            tuple,
            ref.groupBy("r_score", "f_score", "m_score")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_customers"),
                F.round(
                    F.try_divide(
                        F.sum("mon").cast("double") / 100.0,
                        F.count(F.lit(1)).cast("double"),
                    ),
                    6,
                ).alias("avg_monetary"),
            )
            .collect(),
        )
    )
    got_cells = sorted(map(tuple, seg.collect()))
    assert got_cells == ref_cells


# ---------------------------------------------------------------------------
# assortativity: symmetric-sum rewrite equals the symmetrized-pairs form
# ---------------------------------------------------------------------------

def test_assortativity_matches_symmetrized_reference(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (2, 1), (6, 6)],
        "src long, dst long",
    )
    out = graph.assortativity(edges).collect()[0]
    # naive reference: symmetrize, dedupe, Pearson over (deg u, deg v)
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        sym.join(deg.select(F.col("u"), F.col("d").alias("dx")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dy")), "v")
        .select("dx", "dy")
        .collect()
    )
    n = len(pairs)
    sx = sum(p["dx"] for p in pairs)
    sy = sum(p["dy"] for p in pairs)
    sxy = sum(p["dx"] * p["dy"] for p in pairs)
    sxx = sum(p["dx"] * p["dx"] for p in pairs)
    syy = sum(p["dy"] * p["dy"] for p in pairs)
    cov = sxy * n - sx * sy
    ref = cov / math.sqrt(float(sxx * n - sx * sx) * float(syy * n - sy * sy))
    assert out["n_edge_ends"] == n
    assert abs(out["assortativity"] - round(ref, 6)) <= 1e-6


# ---------------------------------------------------------------------------
# literal tables: non-finite doubles and INT_MIN (ADVICE r11)
# ---------------------------------------------------------------------------

def test_scan_schema_catalog_consistent(spark, sf_dir):
    """The round-12 schema catalog caches ONLY the StructType per
    (path, conf) key: repeated scans return identical schemas and
    fresh plans, and the events ts normalization still lands on
    TIMESTAMP regardless of the underlying parquet flavor."""
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    a = scan(spark, sf_dir, "documents")
    b = scan(spark, sf_dir, "documents")
    assert a.schema == b.schema
    assert a is not b  # fresh DataFrame per call — no plan reuse
    ev = scan(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.limit(1).count() in (0, 1)


def test_lit_double_array_non_finite(spark):
    vals = [float("nan"), float("inf"), float("-inf"), 0.5, -0.0]
    got = spark.range(1).select(lit_double_array(vals).alias("a")).collect()[0]["a"]
    assert math.isnan(got[0])
    assert got[1] == float("inf") and got[2] == float("-inf")
    assert got[3] == 0.5
    assert str(got[4]) == "-0.0"


def test_lit_int_array_int_min_stays_int(spark):
    df = spark.range(1).select(lit_int_array([-2147483648, 7]).alias("a"))
    assert df.schema["a"].dataType.simpleString() == "array<int>"
    got = df.collect()[0]["a"]
    assert got == [-2147483648, 7]
