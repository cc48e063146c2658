"""Full-text retrieval operators — BM25 ranked search over a document
corpus.  A training-data-pipeline extension beyond the reference
surface (the reference's only text operator is the word count,
core/map_reduce.go:543-560): corpus search is what powers benchmark
decontamination review, targeted quality audits, and eval-set
curation at crawl scale.

Scale shape (the reason this module exists as written):

  * The query term list is tiny and fixed, so per-document term
    frequencies are computed INSIDE the token array with
    ``size(filter(...))`` — no explode, no (doc, token) shuffle.
    One corpus scan emits (doc_id, dl, tf_0..tf_m) rows.
  * Corpus statistics (N, avgdl, per-term document frequency) are ONE
    global single-row aggregate over that pass, attached back as a
    broadcast 1-row join — the only exchange before the top-k.
  * The final top-k is ``ORDER BY score LIMIT k`` which Spark plans
    as TakeOrderedAndProject: per-partition heaps of k rows, never a
    global sort.

  Total cost at 100 TB: one scan + one scalar aggregate + one
  broadcast + a k-row heap reduce.  Nothing is proportional to the
  vocabulary and no shuffle carries more than one row per document.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.vectors import lit_double_array


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 20) -> DataFrame:
    """Top-``k`` documents by BM25 score for the bag-of-words query
    ``terms`` (Robertson/Sparck-Jones idf with the +1 floor, the
    Lucene form — always positive, so adding a matching term never
    lowers a score).

    Ranking compares RAW doubles with ``doc_id`` as the tie-break, so
    any two engines that agree on IEEE arithmetic produce the same
    ordering; the emitted score is rounded to 6 dp for hash-stable
    comparison.  Documents matching no term are dropped (score 0).

    Returns (doc_id, n_terms_hit, score) sorted score desc, id asc.
    """
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    tk = tokens("text", lowercase=True)

    # one in-array pass per term: tf_i = count of exact matches.  The
    # factory pins the loop variable; a `term=t` default would make
    # the lambda TWO-argument, which pyspark's higher-order-function
    # binder reads as (element, index).
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(tk, _eq(t))).alias(f"tf_{i}") for i, t in enumerate(terms)
    ]
    base = docs.select(
        F.col("doc_id"), F.size(tk).alias("dl"), *tf_cols
    )
    # single-row corpus stats: N, avgdl, df per term.  count(*) over
    # the same pass (NOT a second scan) — exchange-free partial aggs.
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.join(F.broadcast(stats))
    norm = 1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")
    contribs = []
    hits = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        contribs.append(idf * tf * (1.2 + 1.0) / (tf + 1.2 * norm))
        hits.append(F.when(tf > 0, 1).otherwise(0))
    score = sum(contribs[1:], contribs[0])
    n_hit = sum(hits[1:], hits[0])
    return (
        scored.select(
            "doc_id",
            n_hit.cast("int").alias("n_terms_hit"),
            score.alias("_raw"),
        )
        .where(F.col("n_terms_hit") > 0)
        .orderBy(F.col("_raw").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "n_terms_hit", F.round("_raw", 6).alias("score"))
    )


def bm25_oracle_sql(terms: list[str], k: int, k1: float, b: float, tok_sql: str) -> str:
    """DuckDB equivalent of :func:`bm25_topk`, built from the same
    term list so the two stay in lock-step.  ``tok_sql`` is the shared
    lowercase tokenizer expression over ``documents.text``.
    """
    tf_exprs = ",\n              ".join(
        f"len(list_filter(tk, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_exprs = ",\n              ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    contrib = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * tf_{i} * ({k1} + 1.0)"
        f" / (tf_{i} + {k1} * (1.0 - {b} + {b} * dl / avgdl)))"
        for i in range(len(terms))
    )
    n_hit = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(terms))
    )
    return f"""
        WITH base AS (
          SELECT doc_id, len(tk) AS dl,
              {tf_exprs}
          FROM (SELECT doc_id, {tok_sql} AS tk FROM documents)
        ),
        stats AS (
          SELECT count(*) AS n_docs, avg(dl) AS avgdl,
              {df_exprs}
          FROM base
        )
        SELECT doc_id, CAST(n_hit AS INTEGER) AS n_terms_hit,
               round(raw, 6) AS score
        FROM (
          SELECT doc_id, {n_hit} AS n_hit, {contrib} AS raw
          FROM base, stats
        ) WHERE n_hit > 0
        ORDER BY raw DESC, doc_id ASC LIMIT {k}
    """


def rrf_fuse(lexical: DataFrame, semantic: DataFrame, k: int = 20) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic ranking —
    the standard hybrid-retrieval combiner (Cormack et al., the
    1/(c+rank) form every production RAG stack uses to merge BM25
    with embedding search without score calibration).

    ``lexical`` must carry (doc_id, score) and ``semantic``
    (doc_id, cos_sim); each side is ranked independently by
    (score DESC, id ASC) — a total order, so ranks are deterministic
    — and fused with a FULL OUTER join: a document present in only
    one list still scores 1/(c+rank) from that list.

    Scale shape: both inputs are top-``depth`` shortlists (bounded by
    the caller), so ranking is a single in-memory sort of ≤depth rows
    per side and the fuse join is trivially broadcastable.  Nothing
    here is proportional to the corpus — the heavy lifting happened
    in the two retrievers, each of which is one scan + one heap top-k.

    Returns (doc_id, lex_rank, sem_rank, rrf) — top-``k`` by
    (rrf DESC, doc_id ASC), ranks NULL where a side missed the doc.
    RRF scores are sums of exact binary rationals' IEEE quotients, so
    both engines agree bit-for-bit; rounded to 9 dp for the hash gate.
    """
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ws = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    lex = lexical.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )
    sem = semantic.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(1.0 / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(60) + F.col("sem_rank")), F.lit(0.0))
        ).alias("_raw"),
    )
    return (
        fused.orderBy(F.desc("_raw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "lex_rank", "sem_rank", F.round("_raw", 9).alias("rrf"))
    )


def ndcg_discounts(k: int) -> list[float]:
    """The k position discounts 1/log2(pos+1) as PYTHON-computed
    doubles.  Embedded as literals in BOTH the Spark plan and the
    DuckDB oracle SQL (via ``repr``), so neither engine evaluates a
    transcendental — the cross-engine log2-ULP hazard the
    js_divergence nano-rounding discipline works around is removed at
    the source for this bounded table."""
    return [1.0 / math.log2(p + 1) for p in range(1, k + 1)]


def _ranked_runs(runs: DataFrame, query_col: str, score_col, rel_col, id_col):
    """(base, wr): the run as ``(q, s, rel, i)`` rows, and its per-query
    rank order (score DESC, id ASC) — a PARTITIONED window, never a
    global sort."""
    base = runs.select(
        F.col(query_col).alias("q"),
        score_col.alias("s"),
        rel_col.cast("long").alias("rel"),
        id_col.alias("i"),
    )
    return base, Window.partitionBy("q").orderBy(F.desc("s"), F.asc("i"))


def ndcg_at_k(
    runs: DataFrame,
    query_col: str,
    score_col,
    rel_col,
    id_col,
    k: int = 10,
) -> DataFrame:
    """Mean NDCG@k of a scored run against graded relevance — the
    ranking-quality number every retrieval/reranker eval reports.
    Per query: DCG = Σ rel_i·d_i over the top-k by score (ties broken
    by id), IDCG the same sum under the ideal (relevance-ordered)
    permutation, NDCG = DCG/IDCG; queries with zero relevant items
    are skipped (NDCG undefined), per the standard convention.

    Determinism at scale: both rankings are PARTITIONED windows (per
    query — never a global sort); each position's discount is a
    shared literal (:func:`ndcg_discounts`); every DCG term rounds to
    integer NANOS before the per-query sum (exact BIGINT in any
    partial-agg order), the one NDCG division runs over exact ints,
    rounds to nanos again, and the final mean is one division of an
    exact BIGINT sum — bit-stable on both engines.

    Returns one row ``(n_queries, mean_ndcg)``.
    """
    base, wr = _ranked_runs(runs, query_col, score_col, rel_col, id_col)
    wi = Window.partitionBy("q").orderBy(F.desc("rel"), F.desc("s"), F.asc("i"))
    disc = lit_double_array(ndcg_discounts(k))
    ranked = base.select(
        "q",
        "rel",
        F.row_number().over(wr).alias("rn"),
        F.row_number().over(wi).alias("ri"),
    )
    term = lambda pos: F.round(  # noqa: E731
        F.col("rel").cast("double") * F.element_at(disc, pos) * 1e9
    ).cast("long")
    per_q = ranked.groupBy("q").agg(
        F.sum(F.when(F.col("rn") <= k, term(F.col("rn"))).otherwise(0)).alias("dcg9"),
        F.sum(F.when(F.col("ri") <= k, term(F.col("ri"))).otherwise(0)).alias("idcg9"),
    )
    scored = per_q.filter(F.col("idcg9") > 0).select(
        F.round(
            F.col("dcg9").cast("double") / F.col("idcg9").cast("double") * 1e9
        ).cast("long").alias("ndcg9")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.try_divide(
                F.sum("ndcg9").cast("double"),
                (F.count(F.lit(1)).cast("double") * 1e9),
            ),
            6,
        ).alias("mean_ndcg"),
    )


def retrieval_metrics_at_k(
    runs: DataFrame,
    query_col: str,
    score_col,
    rel_col,
    id_col,
    k: int = 10,
) -> DataFrame:
    """MRR@k, recall@k and precision@k of a scored run against binary
    relevance — :func:`ndcg_at_k`'s companions, the three numbers a
    retrieval eval reports next to NDCG.  Per query: reciprocal rank
    of the FIRST relevant hit within the top-k (0 if none), recall =
    relevant-in-top-k / total-relevant, precision = relevant-in-top-k
    / min(k, results); queries with zero relevant items are skipped
    (all three undefined), matching ndcg's convention.

    Determinism: ranking is a PARTITIONED window (per query); each
    per-query ratio is one double division of exact BIGINTs rounded
    to integer NANOS before the cross-query sum (partial-agg order
    independent), and each mean is one final division.  Returns one
    row ``(n_queries, mrr, recall_at_k, precision_at_k)``.
    """
    base, wr = _ranked_runs(runs, query_col, score_col, rel_col, id_col)
    ranked = base.select("q", "rel", F.row_number().over(wr).alias("rn"))
    per_q = ranked.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("rel"), F.lit(0)).cast("long").alias("n_rel"),
        F.coalesce(
            F.sum(F.when(F.col("rn") <= k, F.col("rel")).otherwise(0)), F.lit(0)
        ).cast("long").alias("rel_topk"),
        F.min(
            F.when((F.col("rn") <= k) & (F.col("rel") > 0), F.col("rn"))
        ).alias("first_rel"),
    )
    nano = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / den.cast("double") * 1e9
    ).cast("long")
    scored = per_q.filter(F.col("n_rel") > 0).select(
        # 1e9/rank as ONE division (the oracle's exact IEEE expression,
        # not 1.0/rank*1e9 — identical for rank ≤ k anyway, aligned on
        # principle)
        F.coalesce(
            F.round(F.lit(1e9) / F.col("first_rel").cast("double")).cast("long"),
            F.lit(0),
        ).alias("rr9"),
        nano(F.col("rel_topk"), F.col("n_rel")).alias("rec9"),
        nano(F.col("rel_topk"), F.least(F.lit(k), F.col("n_rows"))).alias("prec9"),
    )
    mean9 = lambda c: F.round(  # noqa: E731
        F.try_divide(
            F.sum(c).cast("double"), F.count(F.lit(1)).cast("double") * 1e9
        ),
        6,
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        mean9(F.col("rr9")).alias("mrr"),
        mean9(F.col("rec9")).alias("recall_at_k"),
        mean9(F.col("prec9")).alias("precision_at_k"),
    )


__all__ = [
    "bm25_topk", "bm25_oracle_sql", "rrf_fuse", "ndcg_at_k",
    "ndcg_discounts", "retrieval_metrics_at_k",
]
