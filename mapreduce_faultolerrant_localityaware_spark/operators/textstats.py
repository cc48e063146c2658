"""Text analysis operators — language-ID, quality scoring, token
counting, document fingerprinting.  Training-data-pipeline extensions
of the reference's tokenizer (core/map_reduce.go:543-546); every
signal is a built-in-functions composition (codegen'd, no UDFs).

Shared stages, each written once and called here, not copied: the
tokenizer ``tokens`` and the ``words``/``lines``/``shingles`` splits
(functions/text.py), ``token_rows``/``token_counts`` (the word count's
map side and combine, operators/wordcount.py), ``top_k_per``
(relational) and ``_shingle_df`` (dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    EN_STOPWORDS,
    IT_STOPWORDS,
    lines,
    shingles,
    stopword_hits,
    tokens,
    words,
)
from ._materialize import materialize_once
from ._parallel import ensure_parallelism
from .dedup import _shingle_df, content_hash
from .relational import top_k_per
from .wordcount import token_counts, token_rows

# Per-language marker stopword sets for the n-gram/stopword-ratio
# language-ID heuristic.  Deterministic and tiny on purpose.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": EN_STOPWORDS,
    "it": IT_STOPWORDS,
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "dans", "pour"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "por", "con", "para"),
    "de": ("der", "die", "und", "das", "den", "von", "mit", "ist", "nicht", "ein"),
}


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counting: reference-semantics word tokens (Q2),
    whitespace tokens (the usual LLM-data proxy), and char length."""
    tk = tokens("text")
    ws = words(F.col("text"))
    return docs.select(
        F.col("doc_id"),
        F.size(tk).alias("n_tokens"),
        F.size(ws).alias("n_ws_tokens"),
        F.length("text").alias("n_chars_m"),
    )


#: GPT-2-style pre-tokenizer pattern (contractions, letter runs,
#: digit runs, punctuation runs, whitespace) — the standard BPE
#: pre-split, minus the trailing-space lookahead (RE2-compatible so
#: the DuckDB oracle evaluates the IDENTICAL pattern).
BPE_ISH_RE = r"'[sdmt]|'ll|'ve|'re| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """BPE-pre-tokenizer piece counting — the token-budget estimator a
    training pipeline runs before the (expensive) real BPE merge step.
    Counts all pieces, non-whitespace pieces, and chars-per-piece
    (≈ the corpus' bytes-per-token compression proxy).  Pure JVM regex
    on the codegen path — one pass, no shuffle."""
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_RE), 0)
    nonws = F.filter(pieces, lambda p: F.trim(p) != F.lit(""))
    n_nonws = F.size(nonws)
    return docs.select(
        F.col("doc_id"),
        F.size(pieces).cast("long").alias("n_pieces"),
        n_nonws.cast("long").alias("n_nonws_pieces"),
        F.when(n_nonws > 0, F.round(F.length("text") / n_nonws, 6)).alias("chars_per_piece"),
    )


def _composite_quality(text_col: str):
    """The composite prose-quality expression (UNROUNDED) shared by
    quality_score (which publishes it) and quality_gate (which
    thresholds it) — one definition so the gate provably thresholds
    the exact quantity the signal query publishes."""
    tk = tokens(text_col, lowercase=True)
    n_tok = F.size(tk)
    letters = F.length(F.regexp_replace(F.col(text_col), r"[^\p{L}]", ""))
    sw = stopword_hits(tk, EN_STOPWORDS)
    stop_ratio = sw / n_tok
    nonletter_ratio = (F.length(text_col) - letters) / F.length(text_col)
    score = F.least(F.lit(1.0), stop_ratio * 2 + (F.lit(1.0) - nonletter_ratio) * 0.5)
    return n_tok, letters, stop_ratio, nonletter_ratio, score


def _rep_sizes(docs: DataFrame, text_col: str, extra: list | None = None):
    """Project (``extra`` columns, _nt, _nd) = shingle total/distinct
    counts in a DEDICATED lower projection.  The shingle array is
    expensive and every consumer needs it 2-3 times; CollapseProject
    refuses to inline a non-cheap alias referenced more than once, so
    the two-stage shape evaluates it ONCE per row — measured 8.7 s →
    3.2 s at sf0.1 for repetition_ratio (the one-stage form re-built
    the array per reference)."""
    sh = shingles(tokens(text_col, lowercase=True), 3)
    cols = list(extra) if extra else []
    # the array gets its OWN projection: higher-order functions are
    # CodegenFallback (interpreted, no subexpression elimination), so
    # computing size() and size(array_distinct()) directly over the
    # `sh` tree would rebuild the tokenize+shingle pipeline per
    # consumer.  With the alias stage, each row builds the array once.
    arr = docs.select(*cols, sh.alias("_sh"))
    return arr.select(
        *cols,
        F.size("_sh").alias("_nt"),
        F.size(F.array_distinct("_sh")).alias("_nd"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals: mean token length, stopword ratio,
    non-letter (punct/digit/space) char ratio, and a composite score.
    The composite mirrors the usual pretraining-filter shape (bounded
    0..1, higher = more prose-like).
    """
    n_tok, letters, stop_ratio, nonletter_ratio, score = _composite_quality("text")
    mean_len = letters / n_tok
    return ensure_parallelism(docs).filter(n_tok > 0).select(
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(nonletter_ratio, 6).alias("nonletter_ratio"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language ID over LANG_MARKERS; 'und' when no
    marker fires.  Ties resolve deterministically to the EARLIEST
    language in LANG_MARKERS order (matching the DuckDB oracle)."""
    tk = tokens("text", lowercase=True)
    hit_cols = [stopword_hits(tk, ws).alias(f"hits_{lang}") for lang, ws in LANG_MARKERS.items()]
    langs = list(LANG_MARKERS)
    scored = ensure_parallelism(docs).select(F.col("doc_id"), *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties via later override
        pred = F.when((F.col(f"hits_{lg}") == best) & (best > 0), F.lit(lg)).otherwise(pred)
    return scored.select(F.col("doc_id"), pred.alias("lang_pred"), best.alias("marker_hits"))


#: RE2- and Java-compatible patterns (no lookaround/backrefs) so the
#: DuckDB oracle evaluates the IDENTICAL regexes.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def _pii_counts(text_col: str):
    """(url_scrubbed, n_emails, n_urls) expressions shared by
    scrub_text and pii_report — ONE definition of the 'URLs first,
    emails counted on URL-scrubbed text' attribution rule, so the
    per-doc and per-source surfaces agree by construction."""
    url_scrubbed = F.regexp_replace(F.col(text_col), URL_RE, "<URL>")
    n_urls = F.size(F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0))
    n_emails = F.size(F.regexp_extract_all(url_scrubbed, F.lit(EMAIL_RE), 0))
    return url_scrubbed, n_emails, n_urls


def scrub_text(docs: DataFrame) -> DataFrame:
    """PII/link scrubbing — the redaction pass of a training-data
    pipeline: count and replace emails and URLs with placeholder
    tokens.  Pure per-row regex on the codegen path.  URLs are
    replaced first and emails are COUNTED on the URL-scrubbed text,
    so an address-shaped substring inside a URL is attributed to the
    URL only — counts always agree with the replacements."""
    url_scrubbed, n_emails, n_urls = _pii_counts("text")
    clean = F.regexp_replace(url_scrubbed, EMAIL_RE, "<EMAIL>")
    return docs.select(
        F.col("doc_id"),
        n_emails.cast("long").alias("n_emails"),
        n_urls.cast("long").alias("n_urls"),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_len"),
    )


def repetition_ratio(docs: DataFrame) -> DataFrame:
    """Within-document repetition: 1 − distinct/total word 3-gram
    shingles — the boilerplate/spam/degenerate-generation signal of a
    pretraining quality filter (high ratio = the doc repeats itself).
    Entirely array-native (shingle → distinct → size inside the row):
    zero shuffle, codegen'd end to end."""
    nt, nd = F.col("_nt"), F.col("_nd")
    return _rep_sizes(docs, "text", extra=[F.col("doc_id")]).select(
        F.col("doc_id"),
        nt.cast("long").alias("n_shingles"),
        nd.cast("long").alias("n_distinct"),
        F.when(nt > 0, F.round(1 - nd / nt.cast("double"), 6)).alias("rep_ratio"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprints: ``dedup.content_hash`` (md5 of the
    normalized text, NULL read as the empty text — exact identity)
    plus a coarse structural sketch (min/max token hash — a 2-hash
    min-wise sketch usable for cheap similarity pre-grouping)."""
    tk = tokens("text", lowercase=True)
    hashed = F.transform(tk, lambda t: F.md5(t))
    return docs.select(
        F.col("doc_id"),
        content_hash("text").alias("content_md5"),
        F.array_min(hashed).alias("min_token_hash"),
        F.array_max(hashed).alias("max_token_hash"),
    )


def entropy_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc unigram token entropy + type-token ratio — the
    information-density quality signal (low entropy flags keyword
    stuffing, template spam, and repetition loops that the
    char-n-gram repetition_ratio misses at the token level).

    H = -Σ p·log2(p) over the doc's token distribution, computed as
    ``log2(L) - (Σ c·log2(c))/L`` from integer counts.  The inner sum
    is accumulated in INTEGER micro-units (round(c·log2(c)·1e6) as
    BIGINT): floating-point addition is order-sensitive and Spark's
    partial aggregation order varies run to run, so a double sum
    would make the output hash-unstable — the integer sum is exact
    and associative, and the only doubles left are one log2 and one
    division per doc.

    Scale shape: explode → groupBy(doc, token) with map-side partial
    aggregation (hot tokens collapse before the exchange), then one
    groupBy(doc) — the same two-shuffle profile as token_stats' big
    brother; nothing corpus-global, no windows.

    Returns ``doc_id, n_tokens, n_types, entropy, ttr`` for docs with
    at least one token.
    """
    counts = token_counts(ensure_parallelism(docs), text_col, id_col, lowercase=True, n="cnt")
    s_micro = F.sum(F.round(F.col("cnt") * F.log2("cnt") * 1e6).cast("long"))
    n_tok = F.sum("cnt")
    return counts.groupBy(id_col).agg(
        n_tok.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(F.log2(n_tok) - s_micro / 1e6 / n_tok, 6).alias("entropy"),
        F.round(F.count(F.lit(1)) / n_tok, 6).alias("ttr"),
    )


def sentence_stats(docs: DataFrame) -> DataFrame:
    """Per-doc sentence segmentation stats — the structural quality
    signal (docs with no sentence boundaries, or absurdly long/short
    sentences, are lists/tables/logs, not prose).  Split on [.!?]+
    runs, drop whitespace-only segments, count words per sentence —
    all in-row array expressions on the codegen path, zero shuffle.

    Returns ``doc_id, n_sentences, mean_sentence_words,
    max_sentence_words`` (mean/max NULL for docs with no sentence)."""
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != F.lit("")
    )
    words_per = F.transform(
        sents,
        lambda s: F.size(words(F.trim(s))),
    )
    n_sent = F.size(sents)
    total_words = F.aggregate(words_per, F.lit(0), lambda a, x: a + x)
    return docs.select(
        F.col("doc_id"),
        n_sent.cast("long").alias("n_sentences"),
        F.when(n_sent > 0, F.round(total_words / n_sent, 6)).alias("mean_sentence_words"),
        F.when(n_sent > 0, F.array_max(words_per)).cast("long").alias("max_sentence_words"),
    )


def _doc_signals(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, n_tokens, q, rep, ent) — the 6-dp rounded per-doc quality
    signals shared by quality_gate (thresholds) and quality_logit
    (weights): one definition so both consumers provably read the
    exact quantities the per-signal queries publish."""
    n_tok, _letters, _sr, _nr, score = _composite_quality(text_col)
    quality = F.when((n_tok > 0) & (F.length(text_col) > 0), F.round(score, 6))
    rep = F.when(
        F.col("_nt") > 0,
        F.round(1 - F.col("_nd") / F.col("_nt").cast("double"), 6),
    )
    sized = _rep_sizes(
        ensure_parallelism(docs), text_col, extra=[F.col(id_col), F.col(text_col)],
    )
    per_row = sized.select(
        F.col(id_col),
        # NULL text yields NULL n_tokens; coalesce to 0 so the gate
        # FAILS unreadable docs as too_short instead of passing the
        # exact rows it can say nothing about
        F.coalesce(n_tok.cast("long"), F.lit(0)).alias("n_tokens"),
        quality.alias("q"),
        rep.alias("rep"),
    )
    ent = entropy_score(docs, text_col=text_col, id_col=id_col).select(
        F.col(id_col), F.col("entropy").alias("ent")
    )
    return per_row.join(ent, id_col, "left")


def quality_gate(docs: DataFrame) -> DataFrame:
    """Composite keep/drop verdict — the single gate a pretraining
    pipeline actually applies, combining the individual signals this
    module computes: minimum length, heuristic prose quality,
    3-gram repetition, and unigram entropy.  Every doc gets a row with
    an auditable ``reasons`` string (fixed check order, comma-joined;
    'ok' when all pass) — filters that silently drop rows are
    undebuggable at corpus scale, so the gate REPORTS rather than
    filters and the caller applies ``passed = 1``.

    All threshold comparisons run on the 6-dp ROUNDED signal values —
    the same values the per-signal queries publish — so the verdict is
    bit-reproducible across engines (the oracle compares identically
    rounded numbers, never raw doubles).

    Scale shape: the per-row signals (length, quality, repetition) are
    one codegen'd projection over the scan; entropy is the existing
    explode → two-groupBy aggregation; one doc_id equi-join marries
    them.  Nothing corpus-global, no windows, no pair space.
    """
    j = _doc_signals(docs, "text", "doc_id")
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_tokens") < 10, F.lit("too_short")),
        F.when(F.col("q") < 0.5, F.lit("low_quality")),
        F.when(F.col("rep") > 0.3, F.lit("repetitive")),
        F.when(F.col("ent") < 2.0, F.lit("low_entropy")),
    )
    return j.select(
        F.col("doc_id"),
        F.col("n_tokens"),
        (reasons == "").cast("int").alias("passed"),
        F.when(reasons == "", F.lit("ok")).otherwise(reasons).alias("reasons"),
    )


def pii_report(docs: DataFrame) -> DataFrame:
    """Per-source PII/link exposure audit — the aggregate view of
    scrub_text's per-doc counts: how many documents in each source
    carry emails/URLs and the total match counts.  The triage report
    that decides which sources need the (expensive) scrubbing pass at
    all.  Email counting runs on URL-scrubbed text exactly like
    scrub_text (the shared _pii_counts expressions — agreement by
    construction, not by parallel edits).

    Scale shape: per-row regex counts fold into ONE map-side-combined
    groupBy(source) — a |sources|-row output at any corpus size."""
    _scrubbed, n_emails, n_urls = _pii_counts("text")
    per_row = ensure_parallelism(docs).select(
        F.col("source"),
        n_emails.cast("long").alias("ne"),
        n_urls.cast("long").alias("nu"),
    )
    return per_row.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("ne") > 0).cast("long")).alias("n_docs_email"),
        F.sum("ne").alias("n_emails"),
        F.sum((F.col("nu") > 0).cast("long")).alias("n_docs_url"),
        F.sum("nu").alias("n_urls"),
    )


def ngram_coverage(docs: DataFrame, n: int = 8) -> DataFrame:
    """Duplicate-n-gram coverage — the corpus-level quality signal the
    Dolma/RefinedWeb pipelines threshold on: for each doc, the
    fraction of its distinct word ``n``-grams that also occur in at
    least one OTHER document.  High coverage means boilerplate /
    template text even when no single pair of docs crosses a near-dup
    threshold, which is exactly what per-pair dedup misses.

    Scale shape: the shared :func:`~.dedup._shingle_df` stage — per-doc
    DISTINCT shingles digest to md5 in the scan projection, so every
    exchange carries 32-byte digests only, never text, and the
    (id, digest) relation is repartitioned by digest ONCE, that one
    exchange feeding both the popularity groupBy and the
    popularity⋈shingles join (co-partitioned on digest).  The corpus is
    tokenized/exploded exactly once: the executed (adaptive) plan reads
    the second branch through a ``ReusedExchange``, while the initial
    plan that ``explain()`` prints before execution still shows both
    branches.  No candidate pair space exists at all (this is an
    inverted-index statistic, not a join).

    Returns ``doc_id, n_shingles, n_dup, dup_frac`` for every doc
    (docs shorter than ``n`` tokens report 0 shingles, dup_frac 0).
    """
    per_doc = (
        _shingle_df(docs, "text", "doc_id", n)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_dup"),
        )
    )
    base = docs.select("doc_id")
    return base.join(per_doc, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
        F.when(
            F.coalesce("n_shingles", F.lit(0)) > 0,
            F.round(F.col("n_dup") / F.col("n_shingles"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


#: The Gopher rules' required-stopword list (Rae et al. 2021 §A1.1):
#: a doc must contain at least 2 of these to look like prose at all.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, §A1.1) — the published
    heuristic battery MassiveWeb was filtered with, and still the
    de-facto first gate of web-scale pretraining pipelines: word-count
    bounds, mean word length in [3,10], symbol-to-word ratio (#, …),
    bullet-started / ellipsis-ended line fractions, fraction of words
    with an alphabetic character, and required-stopword presence.

    Like :func:`quality_gate`, the operator REPORTS rather than
    filters: every doc gets its signal values plus ``passed`` and an
    auditable fixed-order ``reasons`` string.  Threshold comparisons
    run on the 6-dp rounded signals, so verdicts are bit-reproducible
    across engines.

    Scale shape: one codegen'd projection over the scan — words,
    lines, and counts are all higher-order array expressions in-row;
    zero shuffles, no UDFs.  Unreadable (NULL) docs fail as
    ``too_few_words`` rather than silently passing.
    """
    t = F.col("text")
    ws = words(t)
    n_words = F.size(ws)
    # sum of word lengths == chars left after removing all whitespace
    word_chars = F.length(F.regexp_replace(t, r"\s", ""))
    ls = lines(t)
    n_lines = F.size(ls)
    # symbol-to-word: '#' chars plus '...'/'…' ellipses per word
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_ell3 = (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / 3
    n_ellu = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    n_bullet = F.size(F.filter(ls, lambda l: l.rlike(r"^\s*[•‣▪*-]")))
    n_ell_lines = F.size(F.filter(ls, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike(r"\p{L}")))
    tk = tokens("text", lowercase=True)
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(stops, lambda s: F.array_contains(tk, s)))

    sig = ensure_parallelism(docs).select(
        F.col("doc_id"),
        F.coalesce(n_words, F.lit(0)).cast("long").alias("n_words"),
        F.when(n_words > 0, F.round(word_chars / n_words, 6)).alias("mean_word_len"),
        F.when(n_words > 0, F.round((n_hash + n_ell3 + n_ellu) / n_words, 6)).alias(
            "symbol_ratio"
        ),
        F.when(n_lines > 0, F.round(n_bullet / n_lines, 6)).alias("bullet_ratio"),
        F.when(n_lines > 0, F.round(n_ell_lines / n_lines, 6)).alias("ellipsis_ratio"),
        F.when(n_words > 0, F.round(n_alpha / n_words, 6)).alias("alpha_ratio"),
        F.coalesce(n_stop, F.lit(0)).cast("long").alias("stop_hits"),
    )
    # fixed check order; NULL signals contribute nothing (the doc
    # already fails the word-count check that nulled them)
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_words") < min_words, F.lit("too_few_words")),
        F.when(F.col("n_words") > 100_000, F.lit("too_many_words")),
        F.when(
            (F.col("mean_word_len") < 3.0)
            | (F.col("mean_word_len") > 10.0),
            F.lit("word_len"),
        ),
        F.when(F.col("symbol_ratio") > 0.1, F.lit("symbols")),
        F.when(F.col("bullet_ratio") > 0.9, F.lit("bullet_lines")),
        F.when(F.col("ellipsis_ratio") > 0.3, F.lit("ellipsis_lines")),
        F.when(F.col("alpha_ratio") < 0.8, F.lit("low_alpha")),
        F.when(F.col("stop_hits") < min_stop_hits, F.lit("few_stopwords")),
    )
    return sig.select(
        "*",
        (reasons == "").cast("int").alias("passed"),
        F.when(reasons == "", F.lit("ok")).otherwise(reasons).alias("reasons"),
    )


def c4_line_filter(
    docs: DataFrame,
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning report (Raffel et al. 2020, §2.2): a
    line survives iff it ends in terminal punctuation (.!?"), has at
    least ``min_line_words`` words, and doesn't mention 'javascript';
    a page survives iff ≥ ``min_kept_lines`` lines survive and the
    page contains neither '{' (code) nor 'lorem ipsum' (placeholder).

    Reports per doc: line totals, survivors, the cleaned word count,
    the page-level flags, and the final ``page_kept`` verdict — the
    caller filters ``page_kept = 1`` and rebuilds the cleaned text
    with the same kept-line predicate.

    Scale shape: entirely in-row (nested higher-order array lambdas
    on the codegen path), zero shuffles, no UDFs.
    """
    t = F.col("text")
    ls = lines(t)
    kept = F.filter(
        ls,
        lambda l: l.rlike(r'[.!?"]\s*$')
        & (F.size(words(l)) >= min_line_words)
        & ~F.lower(l).contains("javascript"),
    )
    n_kept = F.size(kept)
    has_brace = t.contains("{")
    has_lorem = F.lower(t).contains("lorem ipsum")
    return ensure_parallelism(docs).select(
        F.col("doc_id"),
        F.coalesce(F.size(ls), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(n_kept, F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.size(words(F.array_join(kept, "\n"))), F.lit(0))
        .cast("long")
        .alias("n_clean_words"),
        F.coalesce(has_brace.cast("int"), F.lit(0)).alias("has_brace"),
        F.coalesce(has_lorem.cast("int"), F.lit(0)).alias("has_lorem"),
        (
            (F.coalesce(n_kept, F.lit(0)) >= min_kept_lines)
            & ~F.coalesce(has_brace, F.lit(False))
            & ~F.coalesce(has_lorem, F.lit(False))
        )
        .cast("int")
        .alias("page_kept"),
    )


def gopher_repetition(docs: DataFrame) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.1, the half of
    the battery :func:`gopher_rules` doesn't cover): duplicate-LINE
    fraction, the character mass sitting in repeated line occurrences,
    and the character fraction claimed by the single most frequent
    word bigram — the signals that catch listings/boilerplate a
    distinct-n-gram ratio (:func:`repetition_ratio`) misses.

    Definitions (deterministic, engine-portable):
    ``dup_line_frac`` = 1 − distinct/total non-blank lines;
    ``dup_line_char_frac`` = chars in occurrences BEYOND each line's
    first, over total line chars; ``top_bigram_frac`` = (top-bigram
    count × its word chars) / total token chars, tie-broken by
    lexicographically smallest bigram.

    Scale shape: the line signals are in-row array expressions (the
    per-doc O(lines²) occurrence count is bounded by doc size, like
    the edit-distance verifier); the top-bigram is the linear
    explode → partial-agged (doc,bigram) count → per-doc top-1 window
    — one shuffle carrying (id, bigram) pairs, no pair space.
    """
    ls = lines(F.col("text"))
    nl = F.size(ls)
    dl = F.array_distinct(ls)
    line_chars = F.aggregate(ls, F.lit(0).cast("long"), lambda a, l: a + F.length(l))
    extra_chars = F.aggregate(
        dl,
        F.lit(0).cast("long"),
        lambda a, d: a + (F.size(F.filter(ls, lambda x: x == d)) - 1) * F.length(d),
    )
    tk = tokens("text", lowercase=True)
    base = ensure_parallelism(docs).select(
        F.col("doc_id"),
        F.coalesce(nl, F.lit(0)).cast("long").alias("n_lines"),
        F.when(nl > 0, F.round(1 - F.size(dl) / nl, 6)).alias("dup_line_frac"),
        F.when(line_chars > 0, F.round(extra_chars / line_chars, 6)).alias(
            "dup_line_char_frac"
        ),
        F.length(F.concat_ws("", tk)).cast("long").alias("tok_chars"),
        tk.alias("tk"),
    )
    cnt = (
        base.select(F.col("doc_id"), F.explode(shingles(F.col("tk"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = top_k_per(cnt, ["doc_id"], 1, F.desc("c"), F.asc("bg")).drop("rk")
    return base.drop("tk").join(top, "doc_id", "left").select(
        F.col("doc_id"),
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        F.col("bg").alias("top_bigram"),
        F.when(
            (F.col("tok_chars") > 0) & F.col("c").isNotNull(),
            F.round(F.col("c") * (F.length("bg") - 1) / F.col("tok_chars"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def unicode_stats(docs: DataFrame) -> DataFrame:
    """Encoding-health audit — the mojibake/corruption signal a crawl
    pipeline checks before trusting a source: per doc, counts of
    non-ASCII characters, C0 control characters (excluding tab/LF/CR,
    which prose legitimately contains), and U+FFFD replacement
    characters (the smoking gun of a mis-decoded byte stream), plus
    the non-ASCII ratio.

    Counting is regex char-class removal + length, all on the codegen
    path, zero shuffle.  (Counts are code-point-based on both engines
    for BMP text; the synthetic corpus — like most crawl text after
    encoding repair — is BMP-only.)

    Returns ``doc_id, n_chars, n_non_ascii, n_control, n_replacement,
    non_ascii_ratio`` (ratio 6 dp, NULL for empty docs).
    """
    n_chars = F.length("text")
    n_non_ascii = F.length(F.regexp_replace(F.col("text"), r"[\x00-\x7F]", ""))
    # count control chars directly: remove everything that is NOT a
    # C0 control (minus tab/LF/CR) and measure what remains
    n_control = F.length(
        F.regexp_replace(F.col("text"), r"[^\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    n_repl = F.length(F.regexp_replace(F.col("text"), "[^�]", ""))
    return docs.select(
        F.col("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_non_ascii.cast("long").alias("n_non_ascii"),
        n_control.cast("long").alias("n_control"),
        n_repl.cast("long").alias("n_replacement"),
        F.when(n_chars > 0, F.round(n_non_ascii / n_chars, 6)).alias("non_ascii_ratio"),
    )


def quality_logit(docs: DataFrame) -> DataFrame:
    """Model-based quality scoring — the classifier-filter family
    (fastText quality models, DCLM/FineWeb-Edu educational scorers)
    as a deterministic logistic model over the engine's own signals:
    ``z = −3 + 3·q + 1.5·(1−rep) + 0.5·ent``,
    ``score = σ(z)``.  The weights are a documented fixed stand-in
    for externally-trained coefficients (swap in real ones without
    touching the plan); unreadable signals contribute zero, so a NULL
    doc scores σ(bias).

    Determinism: the 6-dp rounded shared signals
    (:func:`_doc_signals`) lift to exact micro-unit integers and the
    weighted sum runs in BIGINT tenth-of-micro units (weights are
    0.1-granular by contract), so z is the same bigint/1e7 double on
    every engine — a plain ``round(Σ wᵢxᵢ, 6)`` lands exactly on
    half-way 7th-decimal boundaries and HALF_UP diverges on the
    binary representation (measured: ~1 doc in 100).  The only
    transcendental is one exp() on that identical argument.

    Scale shape: identical to quality_gate — one codegen'd signal
    projection + the entropy aggregation + one doc_id equi-join; the
    logit itself is free.
    """
    b10, wq10, wr10, we10 = -30, 30, 15, 5  # the weights in tenths
    j = _doc_signals(docs, "text", "doc_id")
    qm = F.round(F.coalesce(F.col("q"), F.lit(0.0)) * 1e6).cast("long")
    repm = F.round(F.coalesce(F.col("rep"), F.lit(1.0)) * 1e6).cast("long")
    entm = F.round(F.coalesce(F.col("ent"), F.lit(0.0)) * 1e6).cast("long")
    z = (
        F.lit(b10) * 1_000_000
        + F.lit(wq10) * qm
        + F.lit(wr10) * (F.lit(1_000_000) - repm)
        + F.lit(we10) * entm
    ) / F.lit(1e7)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6)
    return (
        j.withColumn("z", z)
        .withColumn("score", score)
        .select(
            F.col("doc_id"),
            F.col("n_tokens"),
            "z",
            "score",
            (F.col("score") >= 0.5).cast("int").alias("label"),
        )
    )


#: parity-safe PII patterns (identical semantics in Java regex and
#: RE2): NANP-style phone numbers and dotted-quad IPv4 literals.
PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_extended(docs: DataFrame) -> DataFrame:
    """Extended per-doc PII exposure: emails, URLs, phone numbers, and
    IPv4 literals.  Phones and IPs are counted on the URL-scrubbed
    text — the same attribution rule scrub_text established (a digit
    run inside a URL belongs to the URL, not to a phone count).  Pure
    per-row regex counting on the codegen path, zero shuffle."""
    url_scrubbed, n_emails, n_urls = _pii_counts("text")
    n_phones = F.size(F.regexp_extract_all(url_scrubbed, F.lit(PHONE_RE), 0))
    n_ipv4 = F.size(F.regexp_extract_all(url_scrubbed, F.lit(IPV4_RE), 0))
    return docs.select(
        F.col("doc_id"),
        n_emails.cast("long").alias("n_emails"),
        n_urls.cast("long").alias("n_urls"),
        n_phones.cast("long").alias("n_phones"),
        n_ipv4.cast("long").alias("n_ipv4"),
        ((n_emails + n_urls + n_phones + n_ipv4) > 0)
        .cast("int")
        .alias("has_pii"),
    )


def html_clean(docs: DataFrame) -> DataFrame:
    """Crawl-side HTML cleaning: strip tags, decode the five core
    entities, collapse whitespace — the minimal text-extraction pass
    between raw crawl HTML and every quality/dedup operator upstream.
    Emits the tag count plus md5/length of the cleaned text (the
    digest posture of scrub_text: downstream exchanges never need the
    text itself).  Pure per-row regex chain, codegen'd, zero shuffle."""
    t = F.col("text")
    n_tags = F.size(F.regexp_extract_all(t, F.lit(r"<[^>]+>"), 0))
    stripped = F.regexp_replace(t, r"<[^>]+>", " ")
    decoded = stripped
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return docs.select(
        F.col("doc_id"),
        n_tags.cast("long").alias("n_tags"),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_len"),
    )


def readability_scores(docs: DataFrame) -> DataFrame:
    """Per-doc Flesch Reading Ease + Flesch-Kincaid grade level — the
    classic prose-complexity signals a curriculum/data-mixture
    pipeline bins on (children's books vs academic text need different
    sampling temperatures; see mixture_weights).  Syllables are
    approximated as vowel-group runs ``[aeiouy]+`` with a 1-per-word
    floor — the standard regex estimator, deterministic and
    engine-portable (no dictionary).

    Exactness: word, sentence (the :func:`sentence_stats` [.!?]+ split
    rule), and syllable counts are exact in-row integers; the two
    score formulas evaluate once per row in double over those integers
    (identical IEEE sequence both engines), NULL for docs with no
    sentence or no word.  All on the codegen path — zero shuffle,
    map-only at any corpus size.

    Returns ``(doc_id, n_words, n_sentences, n_syllables, flesch,
    fk_grade)``.
    """
    ws = words(F.col("text"))
    syl_per = F.transform(
        ws,
        lambda w: F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.lower(w), F.lit(r"[aeiouy]+"), F.lit(0))),
        ),
    )
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != F.lit("")
    )
    nw = F.size(ws).cast("long")
    ns = F.size(sents).cast("long")
    nsyl = F.aggregate(syl_per, F.lit(0), lambda a, x: a + x).cast("long")
    wps = F.try_divide(nw.cast("double"), F.nullif(ns.cast("double"), F.lit(0.0)))
    spw = F.try_divide(nsyl.cast("double"), F.nullif(nw.cast("double"), F.lit(0.0)))
    return ensure_parallelism(docs).select(
        F.col("doc_id"),
        nw.alias("n_words"),
        ns.alias("n_sentences"),
        nsyl.alias("n_syllables"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 6).alias("flesch"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 6).alias("fk_grade"),
    )


def lang_mixture(docs: DataFrame) -> DataFrame:
    """Per-doc code-switching / mixed-language detection over the
    :data:`LANG_MARKERS` stopword batteries — the refinement of
    :func:`lang_id`'s single winner: a doc whose SECOND language's
    marker hits reach half the top's is flagged ``mixed`` (bilingual
    pages, quoted translations, boilerplate in another language) —
    the class a single-label router mis-buckets.

    Determinism: per-language hit counts are exact in-row integers;
    the top-2 election is an ``array_sort`` over (−hits, lang)
    structs — a total order, so ties break to the earlier language
    exactly like lang_id.  Map-only, zero shuffle.

    Returns ``(doc_id, lang_top, lang_second, hits_top, hits_second,
    mixed)`` — lang_second NULL when no second language fires.
    """
    tk = tokens("text", lowercase=True)
    langs = list(LANG_MARKERS)
    hit_cols = [
        stopword_hits(tk, ws).cast("long").alias(f"hits_{lang}")
        for lang, ws in LANG_MARKERS.items()
    ]
    scored = ensure_parallelism(docs).select(F.col("doc_id"), *hit_cols)
    # tiebreak by LANG_MARKERS position (oi), matching lang_id's
    # earliest-language-wins rule — NOT alphabetical lang order
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-F.col(f"hits_{lg}")).alias("nh"),
                    F.lit(i).alias("oi"),
                    F.lit(lg).alias("lg"),
                )
                for i, lg in enumerate(langs)
            ]
        )
    )
    top1, top2 = ranked[0], ranked[1]
    h1 = (-top1["nh"]).cast("long")
    h2 = (-top2["nh"]).cast("long")
    return scored.select(
        F.col("doc_id"),
        F.when(h1 > 0, top1["lg"]).otherwise(F.lit("und")).alias("lang_top"),
        F.when(h2 > 0, top2["lg"]).alias("lang_second"),
        h1.alias("hits_top"),
        h2.alias("hits_second"),
        ((h2 > 0) & (2 * h2 >= h1)).alias("mixed"),
    )


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility: regex tokens per whitespace
    word, plus characters per token — THE comparative readout of
    tokenizer evals (Scao et al., BLOOM; a language whose fertility is
    2× pays 2× the sequence length for the same text, which is 2× the
    training compute and half the effective context).  Here the
    tokenizer is the engine's Unicode-letter regex
    (:func:`~..functions.text.tokens` — the reference's own rule); a
    fitted BPE drops in by swapping the token expression.

    All counts are exact BIGINTs from ONE map-only pass (per-doc token
    / word / letter-char counts partial-agg straight into the language
    domain); the two ratios are final divisions.  Returns
    ``(lang, n_docs, n_words, n_tokens, fertility, chars_per_token)``
    ordered by language.
    """
    toks = tokens("text")
    per = docs.groupBy(F.col("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(words(F.col("text")))).cast("long").alias("n_words"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
        ).cast("long").alias("n_token_chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        F.round(
            F.try_divide(
                F.col("n_tokens").cast("double"),
                F.nullif(F.col("n_words").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("fertility"),
        F.round(
            F.try_divide(
                F.col("n_token_chars").cast("double"),
                F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("chars_per_token"),
    ).orderBy("lang")


def feature_hash(docs: DataFrame) -> DataFrame:
    """Hashing-trick featurizer audit: project the unbounded token
    vocabulary onto 64 fixed feature slots via an
    md5-derived bucket id — the fixed-width featurization every
    vocabulary-free text model (Vowpal-Wabbit-style linear models,
    sketch features for dedup/quality classifiers) runs at corpus
    scale, where a learned vocabulary would be a second full pass.

    Reports, per bucket: total token mass, distinct tokens folded in
    (the collision load the model actually absorbs), document
    frequency, and the share of total mass — exactly the table you
    read to size 64 before training.  The bucket id is
    ``md5(token)``'s first 48 bits mod 64, reproducible
    bit-identically in ANSI SQL (the roc_auc_continuous idiom), never
    a JVM-internal hash.

    Scale shape: tokenize is map-side (flatMap via explode), then ONE
    partial-agged groupBy(bucket, token) collapses to the
    token-domain table; bucket rollups and the distinct-doc count run
    over (bucket, token) / (bucket, doc) frames — shuffles carry
    48-bit ints and token strings, never documents.  Returns
    ``(bucket, n_tokens, n_distinct_tokens, n_docs, mass_share)``
    ordered by bucket.
    """
    tok = token_rows(docs, "text", F.col("doc_id").alias("doc"), token="t")
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("t")), 1, 12), 16, 10).cast("long"),
        F.lit(64),
    ).cast("int")
    bt = tok.select(b.alias("b"), "t", "doc")
    # the bucketed token relation feeds the per-token counts AND the
    # distinct-doc rollup — materialize once so tokenize runs once
    bt = materialize_once(bt)
    per_token = bt.groupBy("b", "t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_bucket = per_token.groupBy("b").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
    )
    docs_per_bucket = (
        bt.select("b", "doc")
        .distinct()
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = per_bucket.agg(F.sum("n_tokens").cast("long").alias("n_tot"))
    return (
        per_bucket.join(docs_per_bucket, "b")
        .join(F.broadcast(tot))
        .select(
            F.col("b").alias("bucket"),
            "n_tokens",
            "n_distinct_tokens",
            "n_docs",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_tot").cast("double"), 6
            ).alias("mass_share"),
        )
        .orderBy("bucket")
    )
