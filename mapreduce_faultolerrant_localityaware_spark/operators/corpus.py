"""Corpus-level statistics operators — TF-IDF term weighting, n-gram
language-model counts, and benchmark-contamination checks.  The
corpus-wide companions to the per-doc signals in ``textstats``:
training-data-pipeline extensions beyond the reference surface (its
only corpus statistic is the word count, core/map_reduce.go:543-560).

All built-in-function compositions (codegen'd, no Python):
  * TF-IDF: one tokenize pass → persisted (doc, token) counts;
    document frequency via skew-safe groupBy+join, doc length via a
    doc-partitioned window; the corpus doc count is a scalar subquery.
  * bigram counts: bigrams are built INSIDE the token array with a
    ``transform`` over adjacent elements — zero shuffle until the
    count groupBy, and that shuffle carries (bigram, partial count).
  * contamination: an inverted-index LEFT SEMI join on the shingle —
    only shingles that occur on both sides ever meet, never a cross
    product; the corpus side is collapsed to DISTINCT shingles first
    so the probe side is bounded by vocabulary, not corpus size.

Shared stages, called here rather than copied: ``token_rows`` /
``token_counts`` (wordcount), ``top_k_per`` (relational), ``_shingle_df``
and the MinHash stages (dedup); local ones are ``_adjacent`` (adjacent
token pairs), ``_chars``/``_apply_merge`` (BPE), ``_cms_hash``/
``_cms_buckets`` (Count-Min), ``_split_of`` and ``_jsd_term_nano``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ._materialize import Rounds, materialize_once, release_checkpoint
from ._parallel import ensure_parallelism
from .dedup import (
    MINHASH_MOD,
    NUM_HASHES,
    _hex60,
    _shingle_df,
    _shingle_rows,
    dedup_minhash_candidates,
    minhash_bands,
    minhash_signatures,
    shingle_hashes,
)
from .graph import pagerank
from .relational import top_k_per
from .wordcount import token_counts, token_rows

def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms.

    tf = term count / doc length; idf = ln((N+1)/(df+1)) + 1 (the
    smoothed sklearn form — never divides by zero, never negative).
    N = total docs in the input (a metadata-only count(*) scalar).
    Ranking uses the RAW tfidf (exact ties broken by token) so both
    engines rank identically; the emitted score is rounded to 6 dp.

    Shape at scale: explode → (doc, token) counts (partial agg before
    the exchange); BOTH consumers (document frequency and the scoring
    join) sit over the identical counts exchange, which exchange reuse
    deduplicates PROVIDED the df aggregation is not rewritten away
    from that exchange (see the tf>=1 guard below) — measured FASTER
    than an explicit .persist(), which paid a storage write+read and
    needed cross-call lifecycle state (a module global the round-5
    review flagged as a concurrency hazard; this function is now
    pure).  Document frequency is a groupBy(token) + equi-join
    back — NOT a token-partitioned window: a window would funnel every
    ("the", doc) row through one task with no partial aggregation and
    no skew mitigation, while the groupBy collapses hot tokens
    map-side and AQE skew-splits the join.  Doc length IS a window
    (per-doc groups are bounded by doc vocabulary) and shares the
    doc_id partitioning with the final rank window (exchange reuse).
    N attaches as a broadcast single-row join (one scalar shipped to
    every executor — no session-global view, no cartesian blowup).
    """
    counts = token_counts(ensure_parallelism(docs), "text", "doc_id", lowercase=True, n="tf")
    # the tf>=1 filter is a semantic no-op (counts are >=1 by
    # construction) that REFERENCES tf: without it Catalyst prunes tf
    # and rewrites this two-level aggregate into a distinct-style agg
    # whose exchange no longer matches the scoring branch's, so the
    # whole tokenize→counts pipeline runs TWICE (no exchange reuse —
    # measured: the full query drops 1.51 s → 0.89 s at sf0.1 with the
    # guard, and the executed plan tokenizes once)
    dfreq = counts.filter(F.col("tf") >= 1).groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    w_doc = Window.partitionBy("doc_id")
    scored = (
        counts.join(dfreq, "token")
        .withColumn("dl", F.sum("tf").over(w_doc))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_raw",
            (F.col("tf") / F.col("dl"))
            * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        )
    )
    return top_k_per(scored, ["doc_id"], k, F.desc("tfidf_raw"), F.asc("token")).select(
        F.col("doc_id"),
        "token",
        "tf",
        "df",
        F.round("tfidf_raw", 6).alias("tfidf"),
        "rk",
    )


def _adjacent(tk: Column, make) -> Column:
    """``make(a, b)`` over each adjacent pair of the array ``tk``, in
    order — array-native, no explode/self-join (``element_at`` is
    1-based, the lambda index 0-based)."""
    return F.transform(
        F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0))),
        lambda x, i: make(x, F.element_at(tk, i + 2)),
    )


def _bigrams(tk: Column) -> Column:
    """Space-joined adjacent-pair bigrams of the token array ``tk``."""
    return _adjacent(tk, lambda a, b: F.concat_ws(" ", a, b))


def bigram_counts(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus top-``k`` bigram counts — the n-gram LM / collocation
    statistic.  Bigram construction happens inside the token array
    (one codegen'd pass, zero shuffle); the only exchange carries
    (bigram, partial count) thanks to map-side combine, and the top-k
    is TakeOrderedAndProject (per-partition heads, no total sort)."""
    tk = tokens("text", lowercase=True)
    grams = ensure_parallelism(docs).select(F.explode(_bigrams(tk)).alias("bigram"))
    counts = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("bigram")).limit(k)


def contamination_check(docs: DataFrame) -> DataFrame:
    """Benchmark-contamination scan: for each held-out "benchmark" doc
    (``doc_id % 50 == 0`` — a deterministic stand-in for a real
    eval set), the fraction of its word 3-gram shingles that also
    occur anywhere in the training corpus (the remaining docs).

    Returns (doc_id, n_shingles, n_hit, containment) — containment
    ≥ ~0.8 is the usual "drop or decontaminate" trigger.

    Scale shape: both sides reduce to DISTINCT shingles before the
    LEFT SEMI equi-join (inverted index: only shared shingles meet,
    and the training side is bounded by distinct-shingle vocabulary,
    not corpus size).  A real pipeline feeds the eval set as a second
    table; the modulo split keeps the operator self-contained and
    oracle-checkable on one input.
    """
    sh = _shingle_rows(docs, "text", "doc_id", 3).distinct()
    is_bench = (F.col("doc_id") % 50) == 0
    bench = sh.filter(is_bench)
    train = sh.filter(~is_bench).select("shingle").distinct()

    totals = bench.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        bench.join(train, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            F.col("doc_id"),
            "n_shingles",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_shingles"), 6).alias(
                "containment"
            ),
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    n_streams: int = 32,
) -> DataFrame:
    """Sequence packing — assign each document to a fixed-token-budget
    pack (the pretraining step that concatenates short docs into full
    context windows).  Greedy contiguous fill per stream: docs are
    sharded into ``n_streams`` deterministic streams (``doc_id %
    n_streams``), ordered by id within the stream, and a running token
    total opens a new pack every time it crosses ``budget``.

    Returns (doc_id, n_tokens, stream, pack_id) where pack_id is
    globally unique (stream * 2^32 + bin).

    Scale shape: a true global greedy pack is inherently sequential —
    one running sum over the whole corpus would funnel everything
    through a single partition.  Sharding first bounds each window to
    a stream (parallelism = n_streams; set it to O(cores×4) in real
    runs), which is exactly how packing shards in practice: packs
    never span streams, each stream fills independently.  One shuffle
    (by stream), one sort (by id within stream), all codegen'd.
    """
    n_tok = F.size(tokens("text", lowercase=True))
    base = ensure_parallelism(docs).select(
        F.col("doc_id"), n_tok.cast("long").alias("n_tokens"),
        (F.col("doc_id") % n_streams).cast("long").alias("stream"),
    )
    w = Window.partitionBy("stream").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    # bin by the prefix BEFORE this doc: a doc that crosses the budget
    # boundary finishes its current pack rather than opening a new one
    bin_ = F.floor((cum - F.col("n_tokens")) / F.lit(budget))
    return base.select(
        "doc_id",
        "n_tokens",
        "stream",
        (F.col("stream") * F.lit(2**32) + bin_).cast("long").alias("pack_id"),
    )


def mixture_report(docs: DataFrame) -> DataFrame:
    """Data-mixture audit — per-(source, lang) document and token
    volumes with corpus shares: the report a pretraining pipeline runs
    before (and after) re-balancing its mix.

    One aggregation pass carries (group, partial n_docs, partial
    n_tokens); the share-of-total windows run over the AGGREGATED
    output, whose cardinality is |sources| × |langs| — a few hundred
    rows at any corpus size, so the unpartitioned window is safe."""
    keys = [F.col("source"), F.col("lang")]
    agg = ensure_parallelism(docs).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text", lowercase=True))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("doc_share"),
        # a corpus with no tokens has no token shares (NULL), not an
        # ANSI DIVIDE_BY_ZERO
        F.round(F.try_divide(F.col("n_tokens"), F.sum("n_tokens").over(w)), 6).alias(
            "token_share"
        ),
    )


def mixture_weights(docs: DataFrame, alpha: float = 0.7) -> DataFrame:
    """Temperature-scaled mixture re-weighting — the multinomial
    sampling weights w_s ∝ p_s^alpha (p_s = source token share) that
    multilingual/multi-domain pretraining uses to up-sample small
    sources without letting any one source dominate (alpha=1 keeps the
    natural mix, alpha→0 approaches uniform).

    DETERMINISM: the normalizing sum runs over per-source INTEGER
    nano-units (round(p^alpha·1e9) as BIGINT), because a double sum
    over an unordered window is partial-order-sensitive; p_s itself is
    a ratio of exact integer token counts, so the only doubles are one
    pow per source row.

    Scale shape: one map-side-combined groupBy(source) over the corpus
    (|sources| rows out), then unpartitioned windows over that tiny
    aggregate — same envelope as mixture_report.  Returns per source:
    ``n_docs, n_tokens, token_share, weight, boost`` (boost =
    weight/token_share, the relative over/under-sampling factor the
    data loader applies)."""
    agg = ensure_parallelism(docs).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens("text", lowercase=True))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    # a corpus with no tokens has no shares or weights (NULL), not an
    # ANSI DIVIDE_BY_ZERO
    share = F.try_divide(F.col("n_tokens"), F.sum("n_tokens").over(w))
    w_nano = F.round(F.pow(share, F.lit(alpha)) * 1e9).cast("long")
    scored = agg.select("source", "n_docs", "n_tokens", share.alias("p"), w_nano.alias("wn"))
    weight = F.try_divide(F.col("wn"), F.sum("wn").over(w))
    return scored.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p", 6).alias("token_share"),
        F.round(weight, 6).alias("weight"),
        # a zero-token source has p = 0 (and weight 0): emit NULL
        # boost explicitly rather than relying on engine 0/0 semantics
        F.when(F.col("p") > 0, F.round(weight / F.col("p"), 6)).alias("boost"),
    )


def mixture_sample(docs: DataFrame, budget_tokens: int = 1500) -> DataFrame:
    """Token-budget mixture sampling — materialize a target data mix by
    taking, per ``source`` group (source/domain), documents in a
    DETERMINISTIC pseudo-random order until the group's token budget is
    exhausted (greedy prefix: a doc survives iff the running total
    through it stays ≤ budget).  This is the selection step a
    pretraining pipeline runs after `mixture_report` decides the target
    weights; the md5 rank key makes the sample reproducible and
    order-independent of the input layout — no RNG, no seed drift
    across retries (the reference has no sampling surface at all).

    Shape: one running-sum window partitioned by ``source`` and
    ordered by (rank_key, doc_id) — one shuffle on the group key, each
    group sorted once in its own task — then a filter on the running
    total.  Returns ``doc_id, source, n_tokens, cum_tokens``.
    """
    base = docs.select(
        F.col("doc_id"),
        F.col("source"),
        F.size(tokens("text", lowercase=True)).cast("long").alias("n_tokens"),
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))).alias("rank_key"),
    )
    w = Window.partitionBy("source").orderBy("rank_key", "doc_id")
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def _split_of(pct: Column, weights: tuple, names: tuple) -> Column:
    """The split name of percentile ``pct`` (0..100): ``names[i]`` for
    the i-th cumulative ``weights`` band, the last name otherwise."""
    if len(weights) != len(names) or sum(weights) != 100:
        raise ValueError("weights must match names and sum to 100")
    cut = 0
    expr = None
    for w, nm in zip(weights[:-1], names[:-1]):
        cut += w
        expr = F.when(pct < cut, nm) if expr is None else expr.when(pct < cut, nm)
    return expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])


def split_assign(docs: DataFrame, weights: tuple = (90, 5, 5)) -> DataFrame:
    """Deterministic train/val/test split assignment — the step every
    training pipeline runs last, and the one where nondeterminism is
    catastrophic (a doc drifting between train and test across reruns
    silently contaminates evaluation).  Assignment is a pure function
    of the KEY (md5 bucket 0..99 cut at cumulative ``weights``), so it
    is reproducible across runs, engines, cluster sizes, and data
    orderings, and ADDING data never reassigns existing docs — the
    properties .sample()/rand() cannot give.

    Scale shape: one map-side expression per row, zero shuffles, zero
    RNG state.  Returns ``doc_id, bucket, split``.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = _split_of(bucket, weights, ("train", "val", "test"))
    return docs.select(F.col("doc_id"), bucket.alias("bucket"), split.alias("split"))


def split_leakage_report(docs: DataFrame) -> DataFrame:
    """Cross-split near-duplicate audit — the eval-integrity check a
    training pipeline runs after splitting: MinHash-LSH candidate
    pairs joined against the deterministic split assignment, counted
    per (split, split) cell.  Off-diagonal cells are LEAKAGE — a val/
    test doc that near-duplicates a train doc inflates eval scores;
    the diagonal cells are ordinary intra-split redundancy.

    Scale shape: the pair list is the existing bucketed LSH pipeline
    (no all-pairs anywhere); the split side is a zero-shuffle md5
    expression over (id), so the two id-equi-joins ship (id, split)
    pairs only; the final groupBy outputs ≤ |splits|² rows.  Cells are
    canonicalized (split_a ≤ split_b lexicographically) so the report
    is orientation-independent.

    Returns ``split_a, split_b, n_pairs``.
    """
    pairs = dedup_minhash_candidates(docs)
    splits = split_assign(docs, weights=(90, 5, 5)).select(
        F.col("doc_id"), F.col("split")
    )
    j = (
        pairs.join(
            splits.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "sa"), "doc_a"
        )
        .join(
            splits.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "sb"), "doc_b"
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def tokens_to_ids(docs: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Vocabulary-indexed encoding — the last text-side step before
    tensors: build the top-``vocab_size`` corpus vocabulary (count
    desc, token asc — fully deterministic) and rewrite every document
    as its array of integer token ids, 0 for out-of-vocabulary.

    Inherently TWO corpus passes (every real tokenizer trainer is):
    pass 1 aggregates token counts (partial-agged groupBy — the only
    corpus-wide state, model-sized by construction), pass 2 re-reads
    the corpus and maps tokens through the BROADCAST vocab — no
    shuffle joins the corpus against the vocab, and the id arrays
    reassemble per doc in one final exchange.  The top-V selection is
    orderBy+limit (TakeOrderedAndProject: per-partition top-V, k-row
    driver merge) followed by a window over only V rows to number
    them — never a global sort of the full vocabulary.

    Returns ``doc_id, n_tokens, ids`` for docs with >= 1 token.
    """
    tk = ensure_parallelism(docs).select(
        F.col("doc_id"),
        F.posexplode(tokens("text", lowercase=True)).alias("pos", "token"),
    )
    counts = tk.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(vocab_size)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    vocab = top.withColumn("tok_id", F.row_number().over(w)).select("token", "tok_id")
    joined = tk.join(F.broadcast(vocab), "token", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "tok_id"))),
            lambda s: F.coalesce(s["tok_id"], F.lit(0)).cast("long"),
        ).alias("ids"),
    )


def lm_bigram_score(docs: DataFrame) -> DataFrame:
    """Per-doc cross-entropy under an add-one-smoothed corpus bigram
    LM — the SQL-able analog of perplexity filtering (CCNet-style
    pipelines drop docs whose LM score says "not natural language";
    a bigram model over the corpus itself is the engine-native
    stand-in for the external KenLM).

    Model, defined entirely from ONE bigram relation (no second
    tokenize pass): p(w2|w1) = (c(w1,w2)+1) / (ctx(w1)+V) where
    ctx(w1) = Σ_w2 c(w1,w2) (bigram-context count) and V = distinct
    second-word types.  Per doc, H = -(Σ occurrences log2 p) /
    n_bigrams, in bits per token.

    Determinism: each bigram TYPE's log2 p rounds to integer
    micro-units once; per-doc sums are exact integer
    count×contribution products — no FP accumulation order anywhere
    (same discipline as text_entropy/graph_pagerank).

    Scale shape: one explode pass builds (doc, w1, w2) counts
    (partial-agged); corpus bigram counts, context counts, and V all
    derive from that one relation by further aggregation (sum/count
    reference the counted column, so the aggregates stay over the
    same exchange — see the tfidf reuse note); scoring is two
    equi-joins on (w1,w2)/(w1) plus a broadcast scalar.

    Returns ``doc_id, n_bigrams, h_bits`` for docs with >= 1 bigram.
    """
    pairs_arr = _adjacent(
        tokens("text", lowercase=True),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    per = (
        ensure_parallelism(docs)
        .select(F.col("doc_id"), F.explode(pairs_arr).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the per-doc bigram relation feeds the model aggregates AND the
    # scoring join; the model table feeds ctx/vocab/scored — each
    # materializes once (round-11 scan audit)
    per = materialize_once(per)
    big = per.groupBy("w1", "w2").agg(F.sum("cnt").alias("c_big"))
    big = materialize_once(big)
    ctx = big.groupBy("w1").agg(F.sum("c_big").alias("c_ctx"))
    vocab = big.select("w2").distinct().agg(F.count(F.lit(1)).alias("v"))
    scored = (
        big.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                F.log2((F.col("c_big") + 1.0) / (F.col("c_ctx") + F.col("v"))) * 1e6
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        per.join(scored, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("cnt") * F.col("lp_micro")) / 1e6 / F.sum("cnt"), 6
            ).alias("h_bits"),
        )
    )


def chunk_overlap(docs: DataFrame, size: int = 64, stride: int = 48) -> DataFrame:
    """Overlapping-window chunking — the embedding/RAG preparation
    step: split each document into ``size``-token chunks starting
    every ``stride`` tokens (overlap = size - stride preserves
    context across boundaries), plus a final shorter tail so no token
    is dropped.  Each chunk carries its index and token count; the
    downstream embedder treats (doc_id, chunk_idx) as the unit key.

    Pure array arithmetic inside the row (sequence → slice → join):
    zero shuffles — the chunk relation is born partitioned exactly
    like its source, which is what lets a 100 TB corpus chunk as a
    map-only stage in front of the embedding UDF.
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    tk = tokens("text", lowercase=False)
    n = F.size(tk)
    # chunk start positions (1-based): 1, 1+stride, ... while start <= n;
    # guard empty docs (sequence(1, 0) would descend)
    starts = F.when(
        n > 0, F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.filter(
        F.transform(
            starts,
            lambda s, i: F.struct(
                i.alias("chunk_idx"),
                F.concat_ws(" ", F.slice(tk, s, size)).alias("chunk"),
                F.least(F.lit(size), n - s + 1).alias("n_tokens"),
            ),
        ),
        # drop windows that start past the end AND fully-overlapped
        # tails: a start is valid if it is the first chunk or covers
        # >= 1 NEW token beyond the previous chunk's end — i.e.
        # n_tokens > size - stride (prev chunk ends at s - stride +
        # size - 1; this one ends at s + n_tokens - 1)
        lambda c: (c["n_tokens"] > 0)
        & ((c["chunk_idx"] == 0) | (c["n_tokens"] > size - stride)),
    )
    return (
        ensure_parallelism(docs)
        .select(F.col("doc_id"), F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
            F.col("c.n_tokens").cast("long").alias("n_tokens"),
        )
    )


def _ols_fit(x: Column, y: Column) -> tuple[Column, Column]:
    """(slope, intercept) of the least-squares line through the points
    ``(x[i], y[i])`` of two equal-length double arrays, as fixed-order
    in-row folds (summation order never depends on the plan).  Fewer
    than two distinct x values leave the line undefined: NULL, not an
    ANSI error."""
    k = F.size(x).cast("double")
    fold = lambda col: F.aggregate(col, F.lit(0.0), lambda a, b: a + b)  # noqa: E731
    sx, sy = fold(x), fold(y)
    sxx = fold(F.transform(x, lambda v: v * v))
    sxy = fold(F.zip_with(x, y, lambda a, b: a * b))
    slope = F.try_divide(k * sxy - sx * sy, k * sxx - sx * sx)
    return slope, F.try_divide(sy - slope * sx, k)


def zipf_fit(docs: DataFrame, top_n: int = 200) -> DataFrame:
    """Zipf-law fit over the corpus token-frequency distribution: the
    least-squares slope of ln(freq) vs ln(rank) for the top ``top_n``
    tokens.  Natural language sits near slope -1; a corpus drifting
    far from it flags template spam (too flat) or vocabulary collapse
    (too steep) — a one-number corpus-health gauge.

    Determinism discipline: the regression sums are folds over ONE
    sorted in-row array (top-n counts collected, sorted (freq desc,
    token asc), rank = array position), so summation order is fixed —
    a row-wise aggregate over the 200 points would re-order the FP
    additions run to run.  The only corpus-scale work is the token
    count groupBy; the top-n cut is TakeOrderedAndProject and the fit
    is arithmetic over a 200-element array on the driver-bound row.

    Returns one row: ``n_points, slope, intercept`` (6 dp; the fit is
    NULL below two points).
    """
    counts = token_counts(ensure_parallelism(docs), "text", lowercase=True)
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(top_n)
    arr = F.sort_array(
        F.collect_list(F.struct((-F.col("n")).alias("negn"), F.col("token")))
    )
    # rank = array position + 1
    slope, intercept = _ols_fit(
        F.transform("a", lambda s, i: F.log((i + 1).cast("double"))),
        F.transform("a", lambda s: F.log((-s["negn"]).cast("double"))),
    )
    return top.agg(arr.alias("a")).select(
        F.size("a").cast("long").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def domain_cap(docs: DataFrame, cap: int = 100) -> DataFrame:
    """Per-source document cap — the crawl-pipeline rule "keep at most
    ``cap`` docs per domain", applied deterministically: within each
    source, docs rank by ``n_chars`` DESC then ``doc_id`` ASC (a
    total order, so reruns and engines agree), and only ranks <= cap
    survive.  Dolma/RefinedWeb-style domain throttling that stops one
    mega-site from dominating the training mixture.

    Scale shape: ONE hash exchange on the source key feeding a
    per-partition sort (Spark's window row_number — no global sort).
    Domain cardinality is huge (millions) and per-domain counts are
    crawl-bounded, so partitions stay balanced; a genuinely
    pathological mega-domain is exactly the case the cap EXISTS for,
    and AQE skew-split handles its one oversized partition.  The full
    row never shuffles — only (id, source, quality) ride the exchange;
    callers re-attach text by joining the returned ids.

    Returns ``doc_id, source, n_chars, src_rank`` for kept
    docs.
    """
    slim = ensure_parallelism(docs).select("doc_id", "source", "n_chars")
    top = top_k_per(slim, ["source"], cap, F.desc("n_chars"), F.asc("doc_id"))
    return top.withColumnRenamed("rk", "src_rank")


def shard_assign(docs: DataFrame, n_shards: int = 16) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the step that
    turns a curated corpus into training shards: every doc gets a
    shard (md5-bucket of its id: uniform, engine-portable, no RNG
    state) and a stable position within that shard (rank of the md5
    digest itself, tie-broken by id), so two runs — or two engines —
    produce byte-identical shard manifests.  The md5 ordering IS the
    shuffle: adjacent source rows scatter across and within shards,
    which is what SGD wants and what a seeded ``.orderBy(rand())``
    cannot reproduce across engines.

    Shape: one ``row_number()`` window partitioned by shard and
    ordered by (digest, doc_id) — only (id, digest, shard) rows ride
    the one exchange; writing shard files is then ``partitionBy(shard)``
    on this frame.  A NULL id digests to a NULL shard, which is its own
    window partition, so the row keeps a (NULL-shard) manifest entry.

    Returns ``doc_id, shard, pos``.
    """
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = (F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % n_shards).alias(
        "shard"
    )
    h = ensure_parallelism(docs).select(F.col("doc_id"), digest.alias("digest"), shard)
    w = Window.partitionBy("shard").orderBy(F.asc("digest"), F.asc("doc_id"))
    return h.select("doc_id", "shard", F.row_number().over(w).cast("long").alias("pos"))


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Top-100 collocations by pointwise mutual information — the
    classic "which word pairs belong together" corpus statistic
    (phrase detection for tokenizer/embedding vocab decisions):
    ``pmi = ln( (c12/B) / ((c1/U)(c2/U)) )`` over adjacent lowercased
    token bigrams, with a support floor of 5 so rare-pair
    noise (PMI's known failure mode) never ranks.

    Shape at scale: unigram and bigram counts are two partial-agged
    groupBys over in-array constructions (zero pre-agg shuffle); the
    two scalar totals attach as 1-row broadcasts; c1/c2 attach by
    equi-join on the word (vocabulary-sized sides, AQE-skew-safe);
    ranking is TakeOrderedAndProject on the RAW pmi with (w1, w2)
    tiebreak — never a global sort.

    Returns ``w1, w2, n_pair, pmi`` (6 dp), pmi-desc.
    """
    base = ensure_parallelism(docs)
    uni = token_counts(base, "text", lowercase=True, token="w", n="c")
    # vocabulary-sized count tables each feed a scalar total and a
    # join side — materialize both so each tokenize pass runs once
    uni = materialize_once(uni)
    bcounts = (
        base.select(F.explode(_bigrams(tokens("text", lowercase=True))).alias("bg"))
        .select(
            F.split_part("bg", F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part("bg", F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    bcounts = materialize_once(bcounts)
    big = bcounts.filter(F.col("c12") >= 5)
    # both totals derive from the COUNT tables (vocabulary-sized), not
    # from a second corpus pass — the bigram explode runs exactly once
    u_total = uni.agg(F.sum("c").alias("u_total"))
    b_total = bcounts.agg(F.sum("c12").alias("b_total"))
    scored = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(u_total))
        .crossJoin(F.broadcast(b_total))
        .withColumn(
            "pmi_raw",
            F.log(
                (F.col("c12") / F.col("b_total"))
                / ((F.col("c1") / F.col("u_total")) * (F.col("c2") / F.col("u_total")))
            ),
        )
    )
    out = scored.orderBy(F.desc("pmi_raw"), F.asc("w1"), F.asc("w2")).limit(100)
    return out.select(
        "w1",
        "w2",
        F.col("c12").alias("n_pair"),
        F.round("pmi_raw", 6).alias("pmi"),
    )


def _chars(w: str) -> Column:
    """``syms``: the single-character symbols of the word column ``w``
    (an in-row transform — no UDF, no explode)."""
    return F.expr(f"transform(sequence(1, length({w})), i -> substring({w}, i, 1))").alias("syms")


def _apply_merge(a: str, b: str) -> Column:
    """``syms`` with the BPE rule (a, b) → ab applied: a greedy
    left-to-right in-row fold over the symbol array."""
    return F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(x))),
    ).alias("syms")


def bpe_train(docs: DataFrame, n_merges: int = 10) -> DataFrame:
    """Byte-pair-encoding merge training — the tokenizer-fitting loop
    itself (Sennrich et al. 2016), distributed the way every real BPE
    trainer is: ONE corpus pass builds the (word, freq) vocabulary,
    and every merge iteration thereafter touches only that
    vocabulary-sized frame — corpus size never matters again.

    Per iteration: adjacent symbol pairs explode out of the in-row
    symbol arrays weighted by word frequency, ONE partial-agged
    groupBy ranks them, the argmax (count desc, pair asc — fully
    deterministic) collects as the next merge rule (k driver-side
    scalars — model parameters, the same exception as the k-means
    centroids), and the rule applies back as an in-row greedy
    left-to-right array fold (no shuffle).  The vocab frame is
    lineage-truncated per round, so plan depth stays bounded for
    large merge budgets.

    No SQL oracle (iterative argmax — same class as ann_ivf_kmeans);
    pinned instead by an exact in-test reference implementation.

    Returns the merge table ``step, left, right, merged, pair_count``
    (step 1-based, ``pair_count`` the weighted support of the merge);
    fewer than ``n_merges`` rows if the corpus runs out of repeated
    pairs.  No end-of-word marker is appended (whole-word tokens
    already come from the whitespace/letter pre-tokenizer).
    """
    spark = docs.sparkSession
    rounds = Rounds(spark, "vocab")
    words = token_counts(ensure_parallelism(docs), "text", lowercase=True, token="w", n="freq")
    vocab = rounds.cut(0, words.select("freq", _chars("w")))
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                        F.slice("syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not best or best[0]["n"] < 2:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append((step, a, b, a + b, n))
        vocab = rounds.cut(step, vocab.select("freq", _apply_merge(a, b)))
    # the returned frame is built from DRIVER-side scalars (the merge
    # rules were collected per-iteration), so the surviving vocab
    # checkpoint is dead weight — release it before returning
    release_checkpoint(vocab)
    return spark.createDataFrame(
        merges, "step long, left string, right string, merged string, pair_count long"
    )


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply trained BPE merge rules (from :func:`bpe_train`) to the
    corpus and report per-doc subword statistics — the tokenizer
    FERTILITY metric (subwords per word) every pretraining data audit
    tracks: fertility drifting up on a source means the tokenizer fits
    it badly and its effective token budget silently shrinks.

    Scale shape mirrors a real tokenizer: merges apply on the DISTINCT
    word vocabulary (vocabulary-sized frame, one in-row greedy fold
    per rule, lineage-truncated every few rules), and the corpus then
    BROADCAST-joins word → subword count — the 100 TB text never
    re-tokenizes per rule.  ``merges`` is the driver-side rule list
    (model parameters, like k-means centroids); pass
    ``[(r["left"], r["right"]) for r in bpe_train(...).collect()]``.

    Returns ``doc_id, n_words, n_subwords, fertility`` (6 dp).
    """
    tk = token_rows(ensure_parallelism(docs), "text", "doc_id", lowercase=True, token="w")
    vocab = tk.select("w").distinct().select("w", _chars("w"))
    # each cut releases the one it supersedes; the LAST one stays
    # alive — the returned lazy frame reads it
    rounds = Rounds(docs.sparkSession, "vocab")
    for step, (a, b) in enumerate(merges, start=1):
        vocab = vocab.select("w", _apply_merge(a, b))
        # keep the chained-fold expression tree codegen-sized: truncate
        # the (small) vocab frame every 4 rules
        if step % 4 == 0:
            vocab = rounds.cut(step, vocab)
    encoded = vocab.select("w", F.size("syms").alias("n_sub"))
    per_doc = tk.join(F.broadcast(encoded), "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
    )
    return per_doc.select(
        F.col("doc_id"),
        "n_words",
        "n_subwords",
        F.round(F.col("n_subwords") / F.col("n_words"), 6).alias("fertility"),
    )


def heavy_hitters(docs: DataFrame, k: int = 50) -> DataFrame:
    """Frequent-token estimation in BOUNDED memory — the Misra-Gries /
    mergeable-summary sketch (Agarwal et al., "Mergeable Summaries",
    PODS'12): each partition maintains at most ``k`` counters; when a
    batch would overflow, every counter drops by the (k+1)-th largest
    value and non-positive counters evict.  The per-partition
    summaries merge with ONE tiny groupBy (≤ k rows per partition,
    never the token stream), so at 100 TB the shuffle carries
    O(partitions·k) rows where exact counting (vocab_top_tokens)
    shuffles the whole vocabulary.

    Counts are LOWER bounds with total undercount ≤ N_partition/(k+1)
    per partition — every token with true frequency above Σ N_p/(k+1)
    is GUARANTEED present (pytest-asserted; like the other sketches
    this is rows-only in the oracle gate, since counter state depends
    on partition layout).

    The sketch runs in vectorized pandas over Arrow batches
    (value_counts + indexed subtraction — no per-row Python), the same
    Arrow-only discipline as the multimodal operators.

    Returns ``rank, token, est_count`` for the top ``k`` surviving
    tokens (rank by est_count desc, token asc).
    """
    toks = token_rows(ensure_parallelism(docs), "text", lowercase=True)

    def mg(batches):
        import pandas as pd

        acc = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf["token"].value_counts()
            acc = acc.add(vc, fill_value=0) if len(acc) else vc.astype("int64")
            if len(acc) > k:
                thresh = acc.nlargest(k + 1).iloc[-1]
                acc = acc[acc > thresh] - thresh
        yield pd.DataFrame({"token": acc.index.astype(str), "lb": acc.astype("int64").values})

    summaries = toks.mapInPandas(mg, schema="token string, lb bigint")
    merged = summaries.groupBy("token").agg(F.sum("lb").alias("est_count"))
    top = top_k_per(merged, [], k, F.col("est_count").desc(), F.col("token").asc())
    return top.withColumnRenamed("rk", "rank").select(
        "rank", "token", F.col("est_count").cast("long").alias("est_count")
    )


def sample_weighted(docs: DataFrame) -> DataFrame:
    """Deterministic weighted downsampling — keep each doc with
    probability proportional to a per-doc weight (here: token count
    capped at 100, the "prefer substantial documents"
    curation heuristic).  The accept test is ``u < w`` where ``u`` is
    an md5-uniform of the KEY — a pure function, so the sample is
    reproducible across runs/engines/layouts and stable under data
    append, none of which ``.sample()``'s RNG gives.  (split_assign is
    the unweighted sibling; this is the weighted generalization.)

    Zero shuffle, one codegen'd projection + filter.

    Returns kept docs: ``doc_id, n_tokens, w, u`` (6 dp).
    """
    n_tok = F.size(tokens("text", lowercase=True))
    w = F.least(F.lit(1.0), n_tok / F.lit(100.0))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sw:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10
        )
        .cast("long")
        / F.lit(4294967296.0)
    )
    return (
        docs.select(
            F.col("doc_id"),
            n_tok.cast("long").alias("n_tokens"),
            F.round(w, 6).alias("w"),
            F.round(u, 6).alias("u"),
        )
        .filter(F.col("u") < F.col("w"))
    )


def _cms_hash(pos: int) -> Column:
    """One Count-Min base hash of ``token``: the 60-bit integer at hex
    digit ``pos`` of its md5, mod MINHASH_MOD (the MinHash derivation)."""
    return F.expr(f"{_hex60('md5(token)', pos)} % {MINHASH_MOD}")


def _cms_buckets(
    df: DataFrame, keep: list[str], h1: Column, h2: Column, depth: int, width: int
) -> DataFrame:
    """``(*keep, row, bucket)``: each row of ``df`` once per sketch row
    i = 1..depth, in bucket ((h1 + i·h2) mod MINHASH_MOD) mod width
    (Kirsch-Mitzenmacher)."""
    buckets = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                ((h1 + F.lit(i) * h2) % MINHASH_MOD % width).alias("bucket"),
            )
            for i in range(1, depth + 1)
        ]
    )
    return df.select(*keep, F.explode(buckets).alias("rb")).select(
        *keep, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )


def cms_counts(docs: DataFrame, k: int = 20, width: int = 1024) -> DataFrame:
    """Count-Min Sketch token-frequency estimation (Cormode &
    Muthukrishnan, J.Algorithms'05) with an exact-count audit — the
    ORDER-INDEPENDENT counterpart of :func:`heavy_hitters`: Misra-Gries
    counter state depends on partition layout (rows-only in the oracle
    gate), but a CMS with fixed hash functions is a pure sum over the
    stream, so both the counter table and every estimate are
    deterministic and hash-matchable against a SQL oracle — a sketch
    the correctness gate can fully verify.

    Shape: one token pass → 4 md5-derived bucket ids per
    instance (Kirsch-Mitzenmacher g_i = h1 + i·h2, the same derivation
    as MinHash) → partial-agged groupBy to a ``4×width`` counter
    table (tiny, broadcastable).  Estimates: est(token) = min over
    rows of its bucket's counter — an OVER-count bound (est ≥ true,
    pytest-asserted), within ε·N with probability 1-δ for
    width=e/ε, depth=ln(1/δ).  At 100 TB the counter table is still
    4×width integers — the whole point of sketching the stream —
    while the exact audit column (true_cnt) is the vocab-sized groupBy
    a production pipeline would skip.

    Returns the top-``k`` tokens by true count (tie → token asc):
    ``rank, token, true_cnt, cms_est``.
    """
    base = ensure_parallelism(docs)
    hashed = token_rows(base, "text", lowercase=True).select(
        "token", _cms_hash(1).alias("h1"), _cms_hash(16).alias("h2")
    )
    ex = _cms_buckets(hashed, ["token"], F.col("h1"), F.col("h2"), 4, width)
    counters = ex.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no vocab-sized single-task sort); the rank window then
    # runs over k rows only
    w = Window.orderBy(F.col("true_cnt").desc(), F.col("token").asc())
    true_top = (
        token_counts(base, "text", lowercase=True, n="true_cnt")
        .orderBy(F.col("true_cnt").desc(), F.col("token").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )
    # per-token buckets recomputed on the k-row side, then the tiny
    # counter table broadcasts into the min-over-rows lookup
    tb = _cms_buckets(
        true_top, ["rank", "token", "true_cnt"], _cms_hash(1), _cms_hash(16), 4, width
    )
    return (
        tb.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("rank", "token", "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "token",
            "true_cnt",
            "cms_est",
        )
    )


def contamination_fuzzy(docs: DataFrame) -> DataFrame:
    """NEAR-duplicate benchmark decontamination — the fuzzy companion
    to :func:`contamination_check` (which only catches verbatim
    shingle overlap).  Real eval leakage is usually lightly rewritten,
    so production decontamination is MinHash-based: a benchmark doc is
    flagged when any training doc lands in one of its LSH buckets with
    a high signature-estimated Jaccard.

    Scale shape: ONE signature pass over the whole corpus (the
    bench/train split happens on the 12-integer signatures, never on
    text), then a cross-side equi-join on (band, band_sig).  Hot
    buckets (mass boilerplate) are capped DETERMINISTICALLY: each
    bucket keeps its 64 lowest train ids (row_number, both
    engines agree), bounding the join fan-out at
    ``64 × bench_bucket_size`` while keeping the flag
    conservative-correct for any bucket whose cap survivors include a
    near-dup.  Estimated Jaccard = matching minhash fraction — no
    second text pass to verify (callers chain dedup_ngram_jaccard on
    the flagged pairs when exact scores are needed).

    Returns one row per benchmark doc: (doc_id, n_candidates,
    best_est, contaminated) — clean docs report 0 / 0.0 / false.
    """
    sig = minhash_signatures(docs, "text", "doc_id")
    # signatures feed the band explode and both estimator sides —
    # materialize the 12-int-per-doc frame once (round-11 scan audit)
    sig = materialize_once(sig)
    bands = minhash_bands(sig, "doc_id")
    is_bench = (F.col("doc_id") % 50) == 0
    bench_b = bands.where(is_bench)
    train_b = top_k_per(
        bands.where(~is_bench), ["band", "band_sig"], 64, F.col("doc_id").asc()
    ).drop("rk")
    cand = (
        bench_b.alias("q")
        .join(
            train_b.alias("t"),
            (F.col("q.band") == F.col("t.band"))
            & (F.col("q.band_sig") == F.col("t.band_sig")),
        )
        .select(
            F.col("q.doc_id").alias("bench_id"),
            F.col("t.doc_id").alias("train_id"),
        )
        .distinct()
    )
    matches = None
    for i in range(NUM_HASHES):
        m = F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    est = (
        cand.join(sig.alias("sa"), F.col("bench_id") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("train_id") == F.col("sb.doc_id"))
        .select(
            "bench_id",
            (matches.cast("double") / NUM_HASHES).alias("est_j"),
        )
    )
    per_bench = est.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max("est_j").alias("best_est"),
    )
    bench_ids = docs.where(is_bench).select(F.col("doc_id").alias("bench_id"))
    return (
        bench_ids.join(per_bench, "bench_id", "left")
        .select(
            F.col("bench_id").alias("doc_id"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.round(F.coalesce("best_est", F.lit(0.0)), 6).alias("best_est"),
            (F.coalesce("best_est", F.lit(0.0)) >= 0.5).alias("contaminated"),
        )
    )


def dsir_weights(docs: DataFrame) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al., "Data
    Selection for Language Models via Importance Resampling"): score
    every raw-pool doc by how target-domain-like its hashed bigram
    features are — avg log p_target(f)/p_raw(f) — then resample with
    these weights (chain :func:`sample_weighted`).  Target docs are
    ``doc_id % 50 == 0`` (the same held-out-domain stand-in the
    contamination checks use); the rest are the raw pool being scored.

    Scale shape: one tokenize pass (bigrams built in-array) →
    (doc, bucket) explode; the two n-gram distributions collapse to a
    4096-row table (groupBy + 1-row side totals — bounded by
    the bucket count, NEVER vocabulary), which joins back as a
    BROADCAST; the per-doc sum is one map-side-combined groupBy.

    Determinism: each bucket's log-ratio (Laplace-smoothed) rounds to
    integer micro-units ONCE in the broadcast table, per-doc sums are
    exact integer addition (associative — double sums would be
    partial-agg-order-sensitive and hash-unstable), and only the final
    avg divides back to a rounded double.
    """
    buck = (
        F.conv(F.substring(F.md5(F.col("bigram")), 1, 15), 16, 10).cast("long")
        % 4096
    )
    feats = ensure_parallelism(docs).select(
        F.col("doc_id"),
        ((F.col("doc_id") % 50) == 0).alias("is_target"),
        F.explode(_bigrams(tokens("text", lowercase=True))).alias("bigram"),
    ).select("doc_id", "is_target", buck.alias("bucket"))
    # (doc, bucket) occurrence counts FIRST: both downstream consumers
    # (the bucket distributions and the per-doc scoring) read this one
    # aggregation, so exchange reuse evaluates the tokenize → bigram →
    # explode pipeline once (the tfidf_top_terms pattern) — and the
    # shuffle carries one row per (doc, distinct bucket), not per
    # bigram occurrence.
    g = feats.groupBy("doc_id", "is_target", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    counts = g.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(F.col("cnt"))).alias("cr"),
    )
    totals = counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    # log p_target/p_raw with add-one smoothing over 4096 cells,
    # frozen to integer micro-units in the (broadcast) bucket table.
    ratio_micro = F.round(
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + F.lit(4096.0)))
            - F.log((F.col("cr") + 1.0) / (F.col("tr") + F.lit(4096.0)))
        )
        * 1e6
    ).cast("long")
    table = counts.join(F.broadcast(totals)).select(
        "bucket", ratio_micro.alias("lr_micro")
    )
    # the raw side consumes the IDENTICAL g subplan (no filter): a
    # `where(~is_target)` here would get pushed below the aggregation
    # into the scan, making the two subtrees differ and killing
    # exchange reuse — target rows instead zero out in the aggregate
    # and drop on n_feats > 0 (raw docs always have n_feats >= 1).
    raw = F.when(F.col("is_target"), F.lit(0)).otherwise(F.col("cnt"))
    return (
        g.join(F.broadcast(table), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(raw).alias("n_feats"),
            F.sum(raw * F.col("lr_micro")).alias("lr_sum_micro"),
        )
        .where(F.col("n_feats") > 0)
        .select(
            F.col("doc_id"),
            F.col("n_feats"),
            F.col("lr_sum_micro"),
            # round to integer micro FIRST: sum/n hits exact .5 halves
            # (both engines round those away from zero on the exactly-
            # representable double), whereas round(sum/n/1e6, 6) would
            # re-multiply by 1e6 inside DuckDB's round and land a hair
            # below the half — one observed 1-ulp mismatch at sf0.1.
            F.round(F.col("lr_sum_micro") / F.col("n_feats"))
            .cast("long")
            .alias("avg_lr_micro"),
        )
        .withColumn("avg_log_ratio", F.col("avg_lr_micro") / 1e6)
    )


def softdedup_weights(docs: DataFrame, n: int = 8) -> DataFrame:
    """SoftDeDup reweighting (He et al. 2024): instead of REMOVING
    near-duplicate documents, down-weight each doc by the corpus-wide
    "commonness" of its word ``n``-grams — docs made of boilerplate
    shingles train with proportionally less weight, docs of unique
    prose keep weight 1.  The soft companion to the hard dedup ladder:
    ``weight = n_shingles / Σ df(shingle)`` (the reciprocal of the
    mean per-shingle document frequency, 1.0 when every shingle is
    unique to the doc).

    Scale shape: identical to :func:`~..operators.textstats
    .ngram_coverage` — the shared :func:`~.dedup._shingle_df` stage
    (distinct shingle digests with their document frequency, one
    digest exchange feeding both the df count and the join back), then
    the per-doc mean is one map-side-combined groupBy.  Inverted-index
    statistic — no candidate pair space.

    Determinism: ``avg_df`` and ``weight`` are ratios of exact bigint
    sums, rounded 6 dp — engine-portable by construction.
    """
    per_doc = (
        _shingle_df(docs, "text", "doc_id", n)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("sum_df"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.when(
            F.coalesce("n_shingles", F.lit(0)) > 0,
            F.round(F.col("sum_df") / F.col("n_shingles"), 6),
        ).alias("avg_df"),
        # short docs (no shingles) carry full weight: nothing common
        F.when(
            F.coalesce("n_shingles", F.lit(0)) > 0,
            F.round(F.col("n_shingles") / F.col("sum_df"), 6),
        )
        .otherwise(F.lit(1.0))
        .alias("weight"),
    )


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank
    every doc by its LM score within its group (CCNet buckets per
    language; here per ``source`` column) and split into head / middle /
    tail thirds — the standard curriculum/selection signal ("train on
    head+middle, drop tail").  The LM is the engine-native corpus
    bigram model of :func:`lm_bigram_score` standing in for the
    external KenLM.

    Determinism: the ntile ordering is total — (h_bits, doc_id) — so
    tier assignment is bit-stable across engines; h_bits itself is the
    integer-micro deterministic score.

    Scale shape: lm_bigram_score's one-explode-pass scoring plus one
    window over (group, score) — at 100 TB the window is a per-group
    sort of (id, score) pairs only, and the group key keeps partitions
    independent.
    """
    scored = lm_bigram_score(docs)
    src = docs.select(F.col("doc_id"), F.col("source"))
    j = src.join(scored, "doc_id")  # docs with >= 1 bigram
    nt = F.ntile(3).over(
        Window.partitionBy("source").orderBy(F.asc("h_bits"), F.asc("doc_id"))
    )
    return j.select(
        F.col("doc_id"),
        F.col("source"),
        F.col("n_bigrams"),
        F.col("h_bits"),
        nt.alias("tier"),
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), nt
        ).alias("bucket"),
    )


def ngram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document n-gram novelty against everything EARLIER in the
    corpus (by ascending ``doc_id``): the fraction of a doc's distinct
    word n-grams whose first corpus occurrence is this doc.  The
    streaming-ingest curation signal — a crawl batch whose novelty
    collapses toward 0 is re-crawling what the corpus already holds
    (the "epochs of repeated data" measurement from the data-mixing
    literature), and per-doc novelty is the keep/drop knob.

    Distributed shape: shingles collapse to 60-bit md5-derived longs
    in the scan projection (8-byte shuffle keys, same posture as the
    simjoin/SNM verify paths, dedup.py's measured string→long win);
    "first occurrence" is ONE aggregate exchange on the shingle hash
    (min doc id — Spark's partial agg ships one (hash, min) pair per
    partition, so the exchange is bounded by vocabulary, not corpus);
    the join back to per-doc rows reuses the same hash key.  No text
    ever shuffles and nothing is quadratic.

    Returns (doc_id, n_shingles, n_novel, novelty_micro) for docs with
    at least one shingle; novelty_micro = n_novel*1e6 div n_shingles —
    integer floor-division microunits, bit-stable across engines.
    """
    sh = shingle_hashes(docs, "text", "doc_id", 3).distinct()
    first = sh.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    return (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 1000000L div n_shingles").alias("novelty_micro"),
        )
        .orderBy("doc_id")
    )


def quantile_normalize(docs: DataFrame) -> DataFrame:
    """Quantile-normalize a per-document quality signal WITHIN each
    group: percent-rank of ``n_chars`` inside ``lang`` plus the
    equi-depth bucket (decile by default).  This is how heterogeneous
    quality scores become comparable across languages/sources before a
    global keep-fraction is applied — raw thresholds systematically
    starve low-resource slices, per-group ranks don't.

    One exchange (the group partition); rank and ntile share the same
    window sort.  percent_rank is an exact integer ratio
    ((rank-1)/(n-1)) rounded at the edge — deterministic under ties
    because ties share a rank by definition.

    Returns (doc_id, lang, score, pr, bucket) ordered by doc_id.
    """
    base = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        F.col("n_chars").cast("long").alias("score"),
    )
    w_rank = Window.partitionBy("lang").orderBy("score")
    w_tile = Window.partitionBy("lang").orderBy("score", "doc_id")
    return (
        base.withColumn("pr", F.round(F.percent_rank().over(w_rank), 6))
        .withColumn("bucket", F.ntile(10).over(w_tile).cast("long"))
        .orderBy("doc_id")
    )


def unigram_kl(docs: DataFrame) -> DataFrame:
    """Per-slice distribution drift: exact KL(slice ‖ corpus) over the
    add-one-smoothed unigram token distributions — the cheap monitor
    that catches a crawl source going off-distribution (spam bursts,
    language flips, boilerplate floods) long before a model does.

    Both distributions are smoothed over the SAME support (the corpus
    vocabulary V): p̂(t|slice) = (cs+1)/(ns+|V|), p̂(t|corpus) =
    (cc+1)/(nc+|V|) — each sums to exactly 1 over V, so KL ≥ 0 holds
    (Gibbs), unlike support-truncated approximations that can go
    negative near identical distributions.

    Scale shape: ONE tokenize pass feeds both count tables (the corpus
    table derives from the slice table, never a second text pass), and
    the Σ_{t∉slice} tail — |V|−m identical zero-count terms per slice —
    is folded ANALYTICALLY from three aggregates (corpus Σln p̂c, the
    slice's Σln p̂c over its own support, and the type counts) instead
    of materializing |V|·|slices| rows.  Everything that shuffles is
    (token, count) pairs.

    DETERMINISM: counts are exact integers; each in-support term and
    each ln p̂c is rounded to integer NANO units before summation
    (exact bigint accumulation in any partial-agg order, dsir-style);
    the analytic tail is a scalar double expression over those exact
    integers.

    Returns (source, n_tokens, n_types, kl) ordered by source.
    """
    slice_counts = token_counts(
        docs.withColumnRenamed("source", "grp"), "text", "grp", token="t", n="cs"
    )
    # the tokenize aggregate feeds the corpus rollup, the slice totals
    # and the in-support join — materialize once so the docstring's
    # "ONE tokenize pass" is what the engine executes (round-11 audit)
    slice_counts = materialize_once(slice_counts)
    corpus_counts = slice_counts.groupBy("t").agg(F.sum("cs").alias("cc"))
    totals = slice_counts.groupBy("grp").agg(
        F.sum("cs").alias("ns"), F.count(F.lit(1)).alias("types")
    )
    # 1-row corpus scalars: total token count, vocab size |V|, and the
    # Σ_{t∈V} ln p̂c normalizer for the analytic zero-count tail.
    # ln p̂c needs nc and |V| first, so fold in two exact steps: ship
    # (cc) once, compute ln with the grand totals attached as columns.
    nc_v = corpus_counts.agg(
        F.sum("cc").alias("nc"), F.count(F.lit(1)).alias("v")
    )
    cc_ln = corpus_counts.join(F.broadcast(nc_v)).select(
        "t",
        "cc",
        "nc",
        "v",
        F.round(
            F.log((F.col("cc") + 1.0) / (F.col("nc") + F.col("v"))) * 1e9
        ).cast("long").alias("lnpc_nano"),
    )
    l_all = cc_ln.agg(
        F.max("nc").alias("nc"),
        F.max("v").alias("v"),
        # |V|-sized sum of ~1e10-magnitude nano terms wraps int64 at
        # ~4e8 types; DECIMAL(38,0) sums stay exact AND order-
        # independent (the determinism requirement double sums fail)
        F.sum(F.col("lnpc_nano").cast("decimal(38,0)")).alias("l_all_nano"),
    )
    j = (
        slice_counts.join(cc_ln.select("t", "cc", "nc", "v", "lnpc_nano"), "t")
        .join(F.broadcast(totals), "grp")
    )
    ps = (F.col("cs") + 1.0) / (F.col("ns") + F.col("v"))
    pc = (F.col("cc") + 1.0) / (F.col("nc") + F.col("v"))
    # per-term contribution in integer NANO units: ps ~ 1/|V|, so micro
    # would quantize small terms to zero; nano keeps 3 guard digits
    # while Σ|terms| ≤ ~1e9·|V| stays far inside int64
    term_nano = F.round(ps * (F.log(ps) - F.log(pc)) * 1e9).cast("long")
    per_slice = j.groupBy("grp").agg(
        F.max("ns").alias("ns"),
        F.max("types").alias("types"),
        F.sum(term_nano).alias("in_support_nano"),
        F.sum(F.col("lnpc_nano").cast("decimal(38,0)")).alias("l_slice_nano"),
    )
    out = per_slice.join(F.broadcast(l_all))
    # Σ_{t∉slice} p0·ln(p0/p̂c) with p0 = 1/(ns+|V|), folded from the
    # exact integer aggregates: (|V|−m)·p0·ln p0 − p0·(L_all − L_slice)
    p0 = 1.0 / (F.col("ns") + F.col("v"))
    tail = p0 * (
        (F.col("v") - F.col("types")) * F.log(p0)
        - (F.col("l_all_nano") - F.col("l_slice_nano")) / 1e9
    )
    return (
        out.select(
            F.col("grp").alias("source"),
            F.col("ns").cast("long").alias("n_tokens"),
            F.col("types").cast("long").alias("n_types"),
            F.round(F.col("in_support_nano") / 1e9 + tail, 6).alias("kl"),
        )
        .orderBy("source")
    )


def split_stratified_exact(docs: DataFrame) -> DataFrame:
    """EXACT-count stratified split: within EACH stratum the split sizes
    hit the requested proportions to ±1 row, unlike the hash split
    (:func:`split_assign`) whose per-stratum fractions drift ~1/√n —
    fatal for tiny strata (a 40-doc language can land 0 val docs under
    hashing).  The trade: assignment depends on the stratum's CONTENT
    (rank within the stratum), so adding data reshuffles assignments —
    use hash splits for incremental corpora, exact splits for frozen
    evaluation pools.

    DETERMINISM: rows rank within their stratum by (md5(id), id) — a
    content-independent total order — and the split is a pure function
    of (rank-1)/n vs the cumulative weights: floor boundaries, largest
    split absorbs the remainder.  One exchange (the stratum window);
    the count attaches via the same window, no second pass.

    Returns (doc_id, lang, split) ordered by doc_id.
    """
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    wn = Window.partitionBy("lang")
    # row_number is INT: lift to LONG before *100 or strata beyond
    # ~21M rows overflow 32-bit arithmetic
    base = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        (
            (F.row_number().over(w).cast("long") - 1) * 100
            / F.count(F.lit(1)).over(wn)
        ).alias("pct"),
    )
    split = _split_of(F.col("pct"), (80, 10, 10), ("train", "val", "test"))
    return base.select("doc_id", "lang", split.alias("split")).orderBy("doc_id")


def textrank_keywords(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-level TextRank keyword extraction (Mihalcea/Tarau 2004,
    lifted from per-document to corpus scope): PageRank over the
    word-adjacency graph — a word is central when it co-occurs with
    many other central words — which surfaces KEYPHRASE words that
    raw frequency ranks miss (frequency loves stopwords; centrality
    wants connectivity).

    Built by composition: ONE shared token-array frame feeds both
    branches — the vocabulary counts (explode → groupBy) and the
    adjacent-pair edges (built INSIDE the array, zero shuffle until
    the pair distinct); rare words (< 5) drop before the
    graph so the node set is vocabulary-bounded, and the ranking
    reuses :func:`graph.pagerank` — the SAME bit-reproducible integer
    fixed-point iteration already under the unrolled-CTE oracle, so
    this query is hash-gated end-to-end too.  (The two branches are
    separate plan subtrees, so the scan+tokenize executes once per
    branch unless the caller persists ``docs`` — at corpus scale,
    materialize the token arrays once upstream.)

    Returns the top-``k`` (token, rank_micro, pr) by (rank desc,
    token asc) — a deterministic total order.
    """
    tk = docs.select(tokens("text", lowercase=True).alias("tk"))
    freq = tk.select(F.explode("tk").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    keep = freq.filter(F.col("cnt") >= 5).select("t")
    pairs = (
        tk.select(
            F.explode(
                _adjacent(
                    F.col("tk"), lambda a, b: F.struct(a.alias("doc_a"), b.alias("doc_b"))
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .join(keep.withColumnRenamed("t", "doc_a"), "doc_a")
        .join(keep.withColumnRenamed("t", "doc_b"), "doc_b")
    )
    pr = pagerank(pairs, iters=5)
    return (
        pr.select(F.col("node").alias("token"), "rank_micro", "pr")
        .orderBy(F.desc("rank_micro"), F.asc("token"))
        .limit(k)
    )


def inverted_index(docs: DataFrame) -> DataFrame:
    """Inverted-index summary: per token its document frequency and
    the first 10 posting doc-ids — the IR structure BM25 and
    every keyword search sit on, materialized the lake way (a table
    keyed by token, not an in-memory index).

    Scale discipline: postings are SAMPLED via a per-token window
    rank (each token keeps its 10 smallest doc ids) BEFORE
    any collect_list, so no aggregation buffer ever holds a stopword's
    full posting list (collect_set per token is the classic OOM).  The
    document frequency comes from the same distinct (token, doc) pair
    table.  Postings serialize to a comma-joined string (the
    no-complex-outputs contract of the query surface).

    Returns (token, df, sample_postings) ordered by (df desc, token)
    limited to the 100 most frequent tokens.
    """
    pairs = token_rows(docs, "text", "doc_id", lowercase=True, token="t").distinct()
    dfreq = pairs.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    sampled = (
        top_k_per(pairs, ["t"], 10, F.asc("doc_id"))
        .groupBy("t")
        .agg(
            F.concat_ws(
                ",", F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string"))
            ).alias("sample_postings")
        )
    )
    return (
        dfreq.join(sampled, "t")
        .select(F.col("t").alias("token"), F.col("df").cast("long").alias("df"), "sample_postings")
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(100)
    )


def source_vocab_overlap(docs: DataFrame) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the
    mixing-audit that says which feeds are near-copies of each other
    BEFORE a mixture weighting (dsir_weights / mixture_sample) treats
    them as independent: two crawls of the same site share most of
    their vocabulary and double-weight its distribution.

    Exactness & shape: one distinct (source, lowercased-token) pass —
    the per-source VOCABULARY, not token occurrences — then the
    intersection comes from the inverted-index equi-join on the token
    (the dedup_ngram_jaccard shape, never a source cross product):
    a token in s sources fans out to C(s,2) ≤ |sources|² pairs, so
    the join is vocabulary-sized with a DOMAIN-bounded per-token
    fan-out (no df cap needed — the "document" side here IS the
    source domain).  Set sizes attach by source equi-join; Jaccard
    |A∩B|/(|A|+|B|−|A∩B|) is one division of exact BIGINTs.  Pairs
    with an EMPTY intersection are absent by construction (their
    Jaccard is 0; the inner join cannot see them).
    Returns ``(source_a, source_b, common, n_a, n_b, jaccard)`` with
    source_a < source_b.
    """
    v = token_rows(
        ensure_parallelism(docs), "text", F.col("source").alias("s"),
        lowercase=True, token="w",
    ).distinct()
    sizes = v.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(b, "w")
        .filter(F.col("a.s") < F.col("b.s"))
        .groupBy(
            F.col("a.s").alias("source_a"), F.col("b.s").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    sa = sizes.select(F.col("s").alias("source_a"), F.col("nv").alias("n_a"))
    sb = sizes.select(F.col("s").alias("source_b"), F.col("nv").alias("n_b"))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "common",
            "n_a",
            "n_b",
            F.round(
                F.try_divide(
                    F.col("common").cast("double"),
                    F.nullif(
                        (F.col("n_a") + F.col("n_b") - F.col("common")).cast(
                            "double"
                        ),
                        F.lit(0.0),
                    ),
                ),
                6,
            ).alias("jaccard"),
        )
    )


def heaps_fit(docs: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — the companion gauge to
    :func:`zipf_fit`: distinct types V(n) against cumulative tokens n
    follows V ≈ K·n^β (β ≈ 0.4–0.6 for natural language); a flat
    curve flags template/duplicated text, a near-linear one flags
    random noise or vocabulary churn.

    Exact prefix distinct WITHOUT any distinct-over-prefix pass: in
    doc-id order, a type first appears at min(doc_id) over its
    occurrences — one groupBy(token) — so V(cutoff) is a COUNT over
    first-appearance docs ≤ cutoff, and n(cutoff) a SUM over per-doc
    token counts ≤ cutoff.  Cutoffs are exact doc-id percentiles from
    ONE 1-row aggregate (a global ntile over the doc table would put
    every doc in one partition — the anti-pattern
    histogram_equidepth documents).  The log-log OLS runs over the
    ≤ 20 points as a fixed-order in-row fold (the
    zipf_fit discipline).

    Returns one row: (n_points, beta, log_k) — 6 dp.
    """
    tok = token_rows(docs, "text", "doc_id", token="t")
    first_seen = tok.groupBy("t").agg(F.min("doc_id").alias("fd"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    qs = [i / 20 for i in range(1, 21)]
    cuts_row = per_doc.agg(
        *[F.percentile("doc_id", F.lit(q)).alias(f"c{i}") for i, q in enumerate(qs)]
    )
    cuts = cuts_row.select(
        F.posexplode(F.array(*[F.col(f"c{i}") for i in range(len(qs))])).alias(
            "tile", "cut"
        )
    )
    # per-cutoff totals: two semi-aggregations against the broadcast
    # cutoff list (20-way fan-out on domain-sized tables)
    fs = first_seen.join(F.broadcast(cuts), F.col("fd") <= F.col("cut")).groupBy(
        "tile", "cut"
    ).agg(F.count(F.lit(1)).alias("v"))
    ns = per_doc.join(F.broadcast(cuts), F.col("doc_id") <= F.col("cut")).groupBy(
        "tile"
    ).agg(F.sum("nt").alias("n"))
    pts = (
        fs.join(ns, "tile")
        .select("tile", "n", "v")
        .filter((F.col("n") > 0) & (F.col("v") > 0))
    )
    # fixed-order fold over the sorted (tile) point array
    arr = pts.agg(
        F.sort_array(F.collect_list(F.struct("tile", "n", "v"))).alias("p")
    )
    beta, log_k = _ols_fit(
        F.transform("p", lambda s: F.log(s["n"].cast("double"))),
        F.transform("p", lambda s: F.log(s["v"].cast("double"))),
    )
    return arr.select(
        F.size("p").cast("long").alias("n_points"),
        F.round(beta, 6).alias("beta"),
        F.round(log_k, 6).alias("log_k"),
    )


def token_budget_sample(docs: DataFrame, budget_tokens: int = 20_000) -> DataFrame:
    """Balanced-mixture sampling to a TOKEN budget: give every source
    an equal share of ``budget_tokens`` and keep each source's docs
    with probability ``min(1, share / source_token_mass)`` — the
    hash-threshold idiom behind corpus mixing (rare sources keep
    everything; dominant crawl sources downsample to their share).

    The at-scale design point: expectation-based hash thresholding
    instead of an exact prefix-by-cumulative-sum.  An exact prefix
    needs a per-source ORDERED window — one sequential cumsum partition
    per source, and real corpora have FEW sources, so at 100 TB the
    biggest source's cumsum becomes a single-task bottleneck.  The
    threshold form is two partial-agged passes and a stateless per-row
    filter: pass 1 reduces to one (source, Σtokens) row per source
    (map-side combined), pass 2 keeps a doc iff its md5-derived
    uniform (engine-portable: first 8 hex digits mod 10⁶) falls under
    the source's per-million threshold.  Budget is hit in expectation
    with Binomial concentration — the standard trade for full
    parallelism.  Deterministic: the hash is a pure key function, so
    the sample is reproducible and contamination-safe across reruns.

    Exact-integer discipline: token masses are exact BIGINTs; the only
    float is the single threshold division, floored to an integer
    per-million once per SOURCE (model-sized), so the per-row
    comparison is integer-only.  Returns one row per doc:
    ``(doc_id, source, n_tokens, keep)``.
    """
    n_tok = F.size(tokens("text", lowercase=True)).cast("long")
    base = ensure_parallelism(docs).select(
        F.col("doc_id"), F.col("source"), n_tok.alias("n_tokens")
    )
    totals = base.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    n_src = totals.agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    thresh = totals.join(F.broadcast(n_src)).select(
        "source",
        # try_divide + least-skips-NULL: a zero-token-mass source
        # (empty strings) trivially fits any budget — keep everything
        # (threshold 10⁶), never an ANSI DIVIDE_BY_ZERO
        F.least(
            F.lit(1_000_000).cast("long"),
            F.floor(
                F.try_divide(
                    F.lit(1_000_000.0) * (F.lit(float(budget_tokens)) / F.col("n_sources")),
                    F.col("src_tokens"),
                )
            ).cast("long"),
        ).alias("p_permillion"),
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 1_000_000
    return base.join(F.broadcast(thresh), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        (u < F.col("p_permillion")).alias("keep"),
    )


def class_diversity(
    df: DataFrame,
    group_col: str,
    class_col: str,
) -> DataFrame:
    """Per-group Simpson diversity of a categorical column — the
    corpus-health read on mixture balance (how language-diverse is
    each source, how event-type-diverse is each cohort): λ is the
    probability two draws share a class, D = 1 − λ the diversity, and
    1/λ the "effective number of classes" — the numbers a mixture
    dashboard tracks before :func:`mixture_weights` rebalances.

    Exactness: the UNBIASED Simpson estimator λ = Σnᵢ(nᵢ−1)/(N(N−1))
    is a ratio of exact BIGINTs from one (group, class) partial-agged
    count — no per-row probabilities, no float sums; both divisions
    happen once per group.  A single-row group (N < 2) is NULL via
    try_divide, as is 1/λ for an all-distinct group (λ = 0).

    Scale shape: one shuffle to the (group × class) domain table, one
    to the |groups|-row result.  Returns ``(group, n_rows, n_classes,
    simpson_d, effective_classes)``.
    """
    per = df.groupBy(
        F.col(group_col).alias("g"), F.col(class_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = per.groupBy("g").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("same2"),
    )
    lam = F.try_divide(
        F.col("same2").cast("double"),
        (F.col("n_rows") * (F.col("n_rows") - 1)).cast("double"),
    )
    return g.select(
        F.col("g").alias(group_col),
        "n_rows",
        "n_classes",
        F.round(1.0 - lam, 6).alias("simpson_d"),
        F.round(F.try_divide(F.lit(1.0), F.nullif(lam, F.lit(0.0))), 6).alias(
            "effective_classes"
        ),
    )


def token_dispersion(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Burstiness profile of the corpus's top-k tokens: the
    variance-to-mean ratio (VMR) of per-document counts — ~1 for
    Poisson-scattered function words, ≫1 for bursty topical terms that
    clump in few documents (Church & Gale's burstiness; the signal
    that separates stopword-like from content-like tokens better than
    raw frequency, and the corpus-linguistics companion to
    :func:`softdedup_weights`' commonness).

    Exactness: per-(doc, token) counts, Σc and Σc² are exact BIGINTs;
    absent docs contribute zero to both sums, so with N the corpus doc
    count, VMR = (N·Σc² − (Σc)²) / (N·Σc) — one double division of
    exact integers per token.  Top-k election is a TakeOrdered heap
    under the (count DESC, token ASC) total order.

    Scale shape: one (doc, token)-keyed partial-agged count (the
    wordcount exchange, digests of size |vocab ∩ doc| per doc), one
    token-keyed rollup, a 1-row N broadcast, and the k-row heap —
    no global sort.  Returns ``(token, total_count, doc_freq, vmr)``.
    """
    per_doc = token_counts(
        ensure_parallelism(docs), "text", "doc_id", lowercase=True, token="t", n="c"
    )
    per_tok = per_doc.groupBy("t").agg(
        F.sum("c").cast("long").alias("total_count"),
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    n_docs = docs.select(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    top = (
        per_tok.orderBy(F.col("total_count").desc(), F.col("t").asc())
        .limit(top_k)
        .join(F.broadcast(n_docs))
    )
    vmr = F.try_divide(
        (F.col("n_docs") * F.col("s2") - F.col("total_count") * F.col("total_count"))
        .cast("double"),
        F.nullif((F.col("n_docs") * F.col("total_count")).cast("double"), F.lit(0.0)),
    )
    return top.select(
        F.col("t").alias("token"),
        "total_count",
        "doc_freq",
        F.round(vmr, 6).alias("vmr"),
    )


def _jsd_term_nano(csa: Column, csb: Column) -> Column:
    """One token's JS-divergence term in integer NANO units, for
    counts ``csa``/``csb`` in the pair's two slices (add-one smoothed
    over the corpus vocabulary ``v``; slice totals ``na``/``nb``)."""
    pa = (csa + 1.0) / (F.col("na") + F.col("v"))
    pb = (csb + 1.0) / (F.col("nb") + F.col("v"))
    m = (pa + pb) / 2
    return F.round((0.5 * pa * F.log(pa / m) + 0.5 * pb * F.log(pb / m)) * 1e9).cast("long")


def js_divergence(docs: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two corpus
    slices' unigram token distributions — the SYMMETRIC, bounded
    ([0, ln 2]) companion to :func:`unigram_kl` (KL ranks each slice
    against the whole corpus; JSD says which PAIRS of sources are
    interchangeable vs complementary — the number a mixture designer
    actually reads before merging or re-weighting two crawls).

    Both distributions smooth over the SAME support (the corpus
    vocabulary V, add-one), so JSD's Gibbs bounds hold exactly.  The
    Σ over tokens in NEITHER slice — |V|−|union| identical terms —
    folds ANALYTICALLY: with p₀=1/(nₐ+V), q₀=1/(n_b+V), m₀=(p₀+q₀)/2
    the tail is a constant-per-pair scalar, never materialized.

    DETERMINISM: counts are exact integers; each in-support term
    rounds to integer NANO units before summation (exact BIGINT
    accumulation in any partial-agg order — the :func:`unigram_kl`
    discipline); the tail is one scalar double expression over exact
    ints both engines share.

    Scale shape: ONE tokenize pass.  The (grp, token, count) table is
    checkpointed before the driver-side rollup collect (per-slice
    token totals plus the global vocabulary size V in one job), so the
    collect and the final pair job both read the materialized blocks.
    The pair table is source-domain-sized (P = S(S−1)/2 pairs, built
    driver-side and broadcast).  Each slice's (token, count) rows fan
    out to every pair they belong to, once per side ((S−1)·Σ V_g rows
    per side: vocabulary-scale, never document-scale); one full-outer
    shuffle on (pair, token) merges the two sides, two ``ln()`` per
    union token, and a partial aggregate folds back to P rows.
    Returns ``(source_a, source_b, n_a, n_b, union_types, jsd)``
    ordered by the pair.
    """
    sc = token_counts(
        docs.withColumnRenamed("source", "grp"), "text", "grp", token="t", n="cs"
    )
    # materialize the tokenize aggregate ONCE: lazy checkpoint — the
    # rollup collect below is the first action and writes the blocks,
    # the final pair job re-reads them (storage is vocabulary-scale,
    # (grp, token, count) rows); blocks AND reliable-checkpoint files
    # age out via the ContextCleaner when the returned frame is
    # garbage-collected (session.py sets
    # spark.cleaner.referenceTracking.cleanCheckpoints — without it,
    # reliable checkpoint FILES would outlive the frame)
    sc = materialize_once(sc, eager=False)
    # the pair table is SOURCE-DOMAIN-sized (one row per slice pair):
    # build it driver-side from ONE bounded rollup aggregate — the
    # codebook-collect pattern (similarity.ann_ivf) — so the fan-out
    # below is a provable broadcast HASH join, not a theta-join BNLJ
    # the plan guard can't bound.  The rollup's grand-total row
    # carries the global distinct-token count V; the per-grp rows the
    # slice totals — one collected aggregate instead of round 10's two.
    stats = sc.rollup("grp").agg(
        F.coalesce(F.sum("cs"), F.lit(0)).cast("long").alias("ns"),
        F.count_distinct("t").cast("long").alias("v"),
        F.grouping("grp").cast("int").alias("is_total"),
    ).collect()
    # rollup of an EMPTY input yields ZERO rows (no grand-total row,
    # unlike a plain global aggregate) — an empty corpus means V = 0
    v_val = next((int(r["v"]) for r in stats if r["is_total"] == 1), 0)
    tt_rows = [r for r in stats if r["is_total"] == 0]
    pair_rows = [
        (a["grp"], b["grp"], int(a["ns"]), int(b["ns"]), v_val)
        for a in tt_rows
        for b in tt_rows
        if a["grp"] < b["grp"]
    ]
    pairs = docs.sparkSession.createDataFrame(
        pair_rows, "ga string, gb string, na long, nb long, v long"
    )
    left = sc.join(
        F.broadcast(pairs.select("ga", "gb")), sc["grp"] == F.col("ga")
    ).select("ga", "gb", "t", F.col("cs").alias("csa"))
    right = sc.join(
        F.broadcast(pairs.select("ga", "gb")), sc["grp"] == F.col("gb")
    ).select("ga", "gb", "t", F.col("cs").alias("csb"))
    both = (
        left.join(right, ["ga", "gb", "t"], "full_outer")
        .select(
            "ga",
            "gb",
            F.coalesce("csa", F.lit(0)).cast("long").alias("csa"),
            F.coalesce("csb", F.lit(0)).cast("long").alias("csb"),
        )
        .join(F.broadcast(pairs), ["ga", "gb"])
    )
    term_nano = _jsd_term_nano(F.col("csa"), F.col("csb"))
    per_pair = both.groupBy("ga", "gb").agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max("v").alias("v"),
        F.count(F.lit(1)).cast("long").alias("union_types"),
        F.sum(term_nano).alias("s_nano"),
    )
    p0 = 1.0 / (F.col("na") + F.col("v"))
    q0 = 1.0 / (F.col("nb") + F.col("v"))
    m0 = (p0 + q0) / 2
    tail = (F.col("v") - F.col("union_types")) * (
        0.5 * p0 * F.log(p0 / m0) + 0.5 * q0 * F.log(q0 / m0)
    )
    return per_pair.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        "union_types",
        F.round(F.col("s_nano") / 1e9 + tail, 6).alias("jsd"),
    ).orderBy("source_a", "source_b")
