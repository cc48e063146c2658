"""Plan hygiene across the ENTIRE declared query surface: every
`queries()` entry is explained and scanned for scale anti-patterns.

- `BatchEvalPython` / `ArrowEvalPython` (row/scalar Python UDFs) must
  never appear — Python is allowed only via mapInPandas
  (`MapInPandas` nodes, multimodal decode) by design.
- `CartesianProduct` must never appear; unbounded `BroadcastNestedLoopJoin`
  is allowed only where a broadcast theta-join is the intended design
  (banded range join, brute-force ANN scoring).

Each query's Exchange and parquet-scan counts are pinned by the ledger
(``tests/test_ledger.py``), not here.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from mapreduce_faultolerrant_localityaware_spark.plans import formatted_plan
from mapreduce_faultolerrant_localityaware_spark.plans.introspect import (
    bnlj_build_sides,
    is_domain_collapsed,
    is_row_bounded,
    subtree_sketch,
    unpartitioned_windows,
)

#: queries whose plans intentionally contain a broadcast nested-loop
#: join (tiny broadcast side × theta predicate)
#: (join_skew_salted: the salt-replication crossJoin of the small side
#: against the broadcast salt range is the operator's mechanism)
# queries whose plan deliberately contains a BroadcastNestedLoopJoin:
# banded/broadcast comparisons, and tfidf's single-row corpus-size
# attach (a broadcast of one scalar row, not a cartesian hazard).
#: queries whose BNLJ is a deliberate 1-row/tiny broadcast replication
#: (round 6: the scalar-subquery queries trade their session-global
#: temp views for a one-row broadcast cross join — same physical work
#: a Subquery node does, now visible as a 1-row BNLJ; ann_pq broadcasts
#: the query side against a `!=` predicate like ann_bruteforce/ann_sq8)
BNLJ_OK = {"range_join", "ann_bruteforce", "dedup_ngram_jaccard", "join_skew_salted",
           # ann_range_search is ann_bruteforce's radius sibling — the
           # same intended broadcast theta join (k-row query side)
           "ann_range_search",
           # token_budget_sample attaches its 1-row source-count
           # aggregate to the model-sized per-source totals (the
           # tfidf-style scalar-attach shape)
           "token_budget_sample",
           # ann_filtered is ann_bruteforce over a filtered corpus —
           # the same intended broadcast theta join (k-row query side)
           "ann_filtered",
           # cochran_armitage attaches its 1-row N/R/k margin aggregate
           # to the k-row level table (the tfidf scalar-attach shape;
           # the build side is a global aggregate, provably ≤1 row)
           "cochran_armitage",
           # kruskal_wallis attaches its 1-row tie-correction aggregate
           # to the 1-row rank rollup (same scalar-attach shape)
           "kruskal_wallis",
           # bh_significance attaches its 1-row corpus-mean and 1-row
           # family-total aggregates (both global aggregates, ≤1 row)
           "bh_significance",
           "tfidf_top_terms", "embedding_quantize", "key_skew_report", "ann_sq8",
           "length_filter", "scalar_subquery", "tpch_q11", "tpch_q22", "ann_pq",
           # round 6: hard-negative mining broadcasts the query side
           # against a label-inequality predicate (same shape as
           # ann_bruteforce); pagerank attaches the 1-row node count
           # as a broadcast cross join (same as tfidf's scalar)
           "ann_hard_negatives", "graph_pagerank",
           # ann_recall_report embeds ann_bruteforce's broadcast theta
           # scoring; lm_score attaches its 1-row vocabulary size as a
           # broadcast cross join (scalar attach, like tfidf/pagerank)
           "ann_recall_report", "lm_score",
           # embeds graph_pagerank's 1-row node-count broadcast
           "dedup_rep_pagerank",
           # round 7: 1-row scalar attaches — pmi_collocations broadcasts
           # its two corpus totals, modality_alignment its key-space total
           # (same tfidf-style pattern, not cartesian hazards)
           "pmi_collocations", "modality_alignment",
           # decayed_sum broadcasts its 1-row max-ts anchor (scalar
           # attach, same shape as lm_score's vocabulary size)
           "decayed_sum",
           # simjoin_cosine attaches its 1-row corpus count for idf
           # (the same tfidf_top_terms scalar-broadcast pattern)
           "simjoin_cosine",
           # bm25_search attaches its 1-row corpus stats (N, avgdl,
           # per-term df) as a broadcast scalar join
           "bm25_search",
           # ccnet_buckets embeds lm_bigram_score and inherits its
           # 1-row vocabulary-size broadcast
           "ccnet_buckets",
           # dsir_weights attaches its two 1-row distribution totals
           # (target/raw bigram mass) as broadcast scalars
           "dsir_weights",
           # bloom_semi_audit broadcasts its 1-row packed filter array
           # (the whole point: probe side never shuffles)
           "bloom_semi_audit",
           # rrf_fusion embeds bm25_topk (1-row corpus-stats broadcast)
           # and ann_bruteforce (broadcast theta scoring) — both
           # individually whitelisted shapes
           "rrf_fusion",
           # embedding_covariance / pca_project attach the 1-row
           # (n, component-sums) marginal as a broadcast scalar join
           # (tfidf-style attach); unigram_kl its 1-row corpus total
           "embedding_covariance", "pca_project", "unigram_kl",
           # psi_drift attaches three 1-row scalars (time midpoint,
           # decile edges, totals) as broadcast cross joins;
           # histogram_equidepth its 1-row percentile-edge aggregate;
           # textrank_keywords embeds graph.pagerank's 1-row
           # node-count broadcast (same whitelisted shape)
           "psi_drift", "histogram_equidepth", "textrank_keywords",
           # revenue_concentration attaches its 1-row grand-total and
           # 1-row key-count aggregates as broadcast scalars;
           # ks_test its 1-row time-midpoint and per-side totals;
           # heaps_fit's prefix totals are intended broadcast theta
           # joins against the 20-row percentile-cutoff list
           "revenue_concentration", "ks_test", "heaps_fit",
           # round 8: chisq_independence attaches its 1-row grand
           # total N to the domain-sized contingency table;
           # benford_digits its 1-row value count to the ≤9-row digit
           # table — both the tfidf-style scalar-attach shape
           "chisq_independence", "benford_digits",
           # changepoint_detect attaches its 1-row (total, count)
           # aggregate to the domain-sized prefix table (same shape);
           # neyman_allocation its 1-row share denominator
           "changepoint_detect", "neyman_allocation",
           # mutual_information attaches its 1-row N plus the 1-row
           # marginal-entropy aggregates; session_rules its 1-row
           # session-count denominator (all scalar attaches)
           "mutual_information", "session_rules",
           # round 9b: survival_km attaches its 1-row corpus max-date
           # and 1-row user-total aggregates; mannwhitney_u its 1-row
           # tie-correction sum; cuped_adjust its 1-row time-midpoint;
           # runs_test its 1-row day count and 1-row doubled median;
           # rfm_segments its 1-row max-date anchor — all the
           # tfidf-style scalar-attach shape, structurally proven below
           "survival_km", "mannwhitney_u", "cuped_adjust", "runs_test",
           "rfm_segments",
           # kendall_tau attaches its 1-row pair-count, tie-correction
           # and n aggregates (scalar attaches; the pair expansion
           # itself is the in-row wedge from a 1-row aggregate)
           "kendall_tau",
           # token_dispersion attaches its 1-row corpus doc count to
           # the k-row heap (tfidf-style scalar attach)
           "token_dispersion",
           # session_paths attaches its 1-row session-total aggregate
           # to the k-row path heap (same scalar-attach shape)
           "session_paths",
           # diff_in_diff attaches the same 1-row corpus time-midpoint
           # broadcast as cuped_adjust
           "diff_in_diff",
           # cramers_v inherits chisq_independence's 1-row grand-total
           # attach; durbin_watson attaches its 1-row (sum, count)
           # aggregate to the day-domain series (scalar attaches)
           "cramers_v", "durbin_watson",
           # round 10: calibration_table attaches its 1-row min/max
           # score bounds; cohens_kappa its 1-row N, diagonal-mass and
           # chance-mass aggregates; wilson_ci its 1-row distinct-user
           # total; referential_audit joins three pairs of 1-row
           # child/orphan count aggregates — all the tfidf-style
           # scalar-attach shape, structurally proven below
           "calibration_table", "cohens_kappa", "wilson_ci",
           "referential_audit",
           # round 11: bucketed_cum_counts attaches its 1-row (min,
           # max) cell-boundary aggregate as a broadcast scalar join —
           # every rank-discipline query now carries that shape
           # (structurally proven ≤1 row below, like every other
           # scalar attach)
           "roc_auc", "roc_auc_continuous", "levene_test",
           "lift_table", "k_anonymity", "percent_rank_global",
           # round 11b: more 1-row scalar attaches, all global
           # aggregates structurally proven ≤1 row below —
           # logrank_test attaches its 1-row cohort totals (twice:
           # at-risk offsets and the final O/E/V rollup);
           # ab_sequential its 1-row grand-total for the information
           # fraction; simpsons_check its 1-row pooled-direction row;
           # feature_hash its 1-row total token mass; graph_modularity
           # its 1-row edge count m
           "logrank_test", "ab_sequential", "simpsons_check",
           "feature_hash", "graph_modularity"}

#: iterative driver-loop queries — plan is per-round, explain of the
#: final labels frame is a checkpoint scan, nothing to audit
SKIP = {"dedup_clusters"}

#: queries allowed an UNPARTITIONED window over a NON-collapsed input.
#: Deliberately empty (round 10): every legitimate unpartitioned window
#: in the engine runs over an aggregated / k-row input and passes
#: `is_domain_collapsed` structurally — the round-9 roc_auc /
#: mannwhitney_u / lift_table / rfm_segments single-partition row sorts
#: were rewritten to the distinct-value-collapse / exact_ntile patterns
#: rather than whitelisted.  Add a name here ONLY with a comment proving
#: the input is domain-sized in a way the prover cannot see.
UNPART_WINDOW_OK: set[str] = set()

#: round 11: the STRICT prover no longer accepts ANY Aggregate as
#: "domain-collapsed" — a `groupBy(score)` over near-unique continuous
#: values is row-sized (the round-10 residual; the rank family now
#: runs on `bucketed_cum_counts`, whose only unpartitioned window
#: aggregates on spark_partition_id() and proves bounded structurally).
#: Queries here window over a grouped aggregate whose domain is bounded
#: by DATA SEMANTICS the physical plan cannot show; each entry carries
#: the cardinality proof.  An entry whose plan stops containing an
#: unpartitioned window should be removed (asserted non-vacuous below).
DOMAIN_OK: dict[str, str] = {
    "ann_index_drift": (
        "windows over the per-CELL occupancy table: cell ids come from "
        "the fitted IVF codebook join, so the domain is the k-means k "
        "(a fit parameter, 16–256), never corpus rows"
    ),
    "bh_significance": (
        "the BH step-up rank runs over the per-GROUP test-family table "
        "(grp = event_type): one row per hypothesis tested — the "
        "k-row family a multiple-testing correction is defined on"
    ),
    "lift_table": (
        "cumulative gains run over the per-BUCKET table: bucket is "
        "exact_ntile output, an integer in 1..n_tiles (=10) by the "
        "ntile arithmetic — the prover cannot bound the CASE expression"
    ),
    "mixture_report": (
        "windows over the per-(source, lang) table: both are corpus "
        "slice labels (crawl/source names × ISO language codes) — a "
        "mixture design domain of tens of rows, not data-scaled"
    ),
    "mixture_weights": (
        "windows over the per-source mixture table — one row per "
        "corpus slice in the sampling design, same domain as "
        "mixture_report"
    ),
    "pareto_front": (
        "skyline scan over the per-distinct-token-count table: the "
        "domain is bounded by the maximum document LENGTH (≤ ~1e6 "
        "values however many documents), not corpus row count"
    ),
}

_QUERIES = sorted(entry_mod.queries())


def test_boundedness_prover_rejects_unbounded_broadcast(spark, sf_dir):
    """The structural prover must FAIL a genuinely unbounded broadcast side
    — otherwise the whitelist assertion above is vacuous."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # broadcast an UNBOUNDED table side into a theta join: the rot case
    bad = docs.alias("a").join(
        F.broadcast(docs.alias("b")),
        F.col("a.doc_id") < F.col("b.doc_id"),
    )
    sides = list(bnlj_build_sides(bad))
    assert sides, "expected a BroadcastNestedLoopJoin in the probe plan"
    for _, build in sides:
        assert not is_row_bounded(build), (
            "prover accepted an unbounded parquet-scan broadcast side:\n"
            + subtree_sketch(build)
        )


def test_boundedness_prover_accepts_scalar_attach(spark, sf_dir):
    """And it must PASS the intended 1-row scalar-attach shape."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scalar = docs.agg(F.count("*").alias("n"))
    good = docs.crossJoin(F.broadcast(scalar))
    sides = list(bnlj_build_sides(good))
    assert sides, "expected a BroadcastNestedLoopJoin in the probe plan"
    for _, build in sides:
        assert is_row_bounded(build), subtree_sketch(build)


@pytest.mark.parametrize("name", [q for q in _QUERIES if q not in SKIP])
def test_plan_hygiene(spark, sf_dir, name):
    df = entry_mod.queries()[name](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    assert "ArrowEvalPython" not in plan, f"{name}: scalar Python UDF in plan"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: unexpected nested-loop join"
    else:
        # the whitelist is enforced structurally, not by comment (round 8):
        # every BNLJ build side must PROVE a scale-independent row bound —
        # a global aggregate (≤1 row), a literal-pinned id filter (≤k query
        # rows), or driver-created k-row data. A whitelisted query whose
        # refactor broadcasts an unbounded side fails here, not on-cluster.
        for bnlj, build in bnlj_build_sides(df):
            assert is_row_bounded(build), (
                f"{name}: BNLJ build side is not provably row-bounded:\n"
                + subtree_sketch(build)
            )
    # unpartitioned-window guard (round 10): a WindowExec with an empty
    # partition spec single-partition-sorts its WHOLE input — fine over
    # a group-domain / k-row table (ks_test's distinct-value CDF, day
    # series, bucket rollups; all prove `is_domain_collapsed`), a
    # 100 TB scale-killer over raw rows (the round-9 roc_auc family).
    if name not in UNPART_WINDOW_OK:
        lenient = name in DOMAIN_OK
        for win, child in unpartitioned_windows(df):
            assert is_domain_collapsed(child, allow_any_aggregate=lenient), (
                f"{name}: unpartitioned window over an input the strict "
                "prover cannot bound — use bucketed_cum_counts / the "
                "exact_ntile pattern, or annotate DOMAIN_OK with a "
                "cardinality proof:\n" + subtree_sketch(child)
            )


def test_window_guard_rejects_naive_global_ntile(spark, sf_dir):
    """Negative control: the guard must FLAG a naive unpartitioned
    ntile over a raw parquet table — otherwise the sweep above is
    vacuous."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    naive = docs.select(
        F.ntile(10).over(Window.orderBy("doc_id")).alias("bucket"), "doc_id"
    )
    hits = list(unpartitioned_windows(naive))
    assert hits, "expected an unpartitioned WindowExec in the probe plan"
    assert all(not is_domain_collapsed(child) for _, child in hits), (
        "guard accepted a naive global ntile over a raw table"
    )


def test_window_guard_accepts_domain_collapsed(spark, sf_dir):
    """And it must PASS the engine's accepted shapes: a cumulative
    window over an aggregate grouped on a provably bounded-image key
    (a calendar truncation — day domain), and bucketed_cum_counts'
    bucket-offset window (aggregate on spark_partition_id())."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_faultolerrant_localityaware_spark.operators.relational import (
        bucketed_cum_counts,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    cum = per.select("d", F.sum("n").over(Window.orderBy("d")).alias("cum_n"))
    hits = list(unpartitioned_windows(cum))
    assert hits, "expected an unpartitioned WindowExec in the probe plan"
    for _, child in hits:
        assert is_domain_collapsed(child), subtree_sketch(child)

    dom = events.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    bucketed = bucketed_cum_counts(dom, "v", [("t", "ct")], with_totals=True)
    hits = list(unpartitioned_windows(bucketed))
    assert hits, "expected the bucket-offset WindowExec in the probe plan"
    for _, child in hits:
        assert is_domain_collapsed(child), subtree_sketch(child)


def test_window_guard_rejects_nonreducing_aggregate(spark, sf_dir):
    """Round-11 negative control (VERDICT r10 'what's wrong' #2): an
    Aggregate whose grouping key is a raw high-cardinality scan column
    (`groupBy(score)` over parquet doubles) must NOT prove
    'domain-collapsed' — the distinct-value 'domain' of a continuous
    score is row-sized, and an unpartitioned cumulative window over it
    is the round-10 residual funnel."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = events.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("t")
    )
    naive = per.select(
        "v", F.sum("t").over(Window.orderBy("v")).alias("cum")
    )
    hits = list(unpartitioned_windows(naive))
    assert hits, "expected an unpartitioned WindowExec in the probe plan"
    assert all(not is_domain_collapsed(child) for _, child in hits), (
        "strict prover accepted a non-reducing aggregate funnel"
    )


def test_domain_ok_entries_not_vacuous(spark, sf_dir):
    """Every DOMAIN_OK annotation must still be needed: its query's
    plan contains an unpartitioned window the STRICT prover rejects.
    A stale entry (query rewritten onto bucketed_cum_counts) weakens
    the sweep and must be removed."""
    for name, proof in sorted(DOMAIN_OK.items()):
        assert proof.strip(), f"{name}: DOMAIN_OK entry without a proof"
        df = entry_mod.queries()[name](spark, sf_dir)
        needs = any(
            not is_domain_collapsed(child)
            for _, child in unpartitioned_windows(df)
        )
        assert needs, (
            f"{name}: DOMAIN_OK entry is stale — the strict prover now "
            "accepts every unpartitioned window in its plan"
        )
