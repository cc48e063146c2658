"""Deduplication operators over a document corpus — the core
large-scale-training-pipeline extension beyond the reference surface
(the reference's only "dedup" is the exactly-once guard on shuffle
replay, core/map_reduce.go:167-182 — an execution mechanism, not a
data operator).

Every operator has the reference's one data path — hash a key, group
by it, work inside each group (map → hash partition → reduce) — and is
a composition of built-in DataFrame ops, so nothing touches Python
row-at-a-time.  Operator families:

  * exact digest: dedup_exact, dedup_exact_keep_best,
    dedup_incremental, dedup_overlap_matrix — one md5 of the
    normalized text per doc, so the group key is the 32-byte digest,
    never the text.
  * MinHash-LSH: minhash_signatures → minhash_bands →
    dedup_minhash_candidates, lsh_bucket_stats, minhash_accuracy_report
    and the end-to-end dedup_pipeline.  Candidate pairs come from one
    groupBy on band signatures, so the shuffle is O(n·bands) and pairs
    expand only inside a bucket.
  * SimHash: simhash (one 64-bit fingerprint per doc, zero shuffle),
    dedup_simhash_pairs (byte bands), dedup_editdist (Levenshtein
    verify) and dedup_incremental_fuzzy (16-bit pair bands).
  * exact set-similarity joins: the prefix filter
    (set_similarity_join_prefix, dedup_incremental_jaccard,
    simjoin_cosine) and the df-capped inverted index
    (dedup_ngram_jaccard, simjoin_containment).
  * sorted neighbourhood: dedup_sorted_neighborhood.
  * chunk / span: dedup_chunks, substring_spans.

Shared stages, each written once: ``_shingle_rows`` (the
tokenize → shingle explode), ``shingle_hashes`` (its 60-bit md5 hash),
``_shingle_digests`` (distinct shingle md5 digests) and
``_shingle_df`` (the same with their document frequency),
``_minhash`` (Kirsch-Mitzenmacher signatures), ``bucket_pairs``
(all-pairs / star expansion inside a bucket), ``_attach`` (per-doc
columns onto both sides of a pair), ``_shingle_sets`` +
``_verify_jaccard`` (the exact 6-dp Jaccard verify), ``_ordered_sets``
+ ``_prefix`` + ``_lengths_ok`` (prefix filter), ``_distinct_shingles``
+ ``_common_shingles`` (inverted index), ``_simhash_bands`` +
``simhash_pair_bands`` (SimHash banding) and ``content_hash``.  Other
modules call them, not copies: ``bucket_pairs`` (similarity),
``shingle_hashes``/``_shingle_rows`` (corpus), ``_shingle_df``
(corpus, textstats), ``_hex60``/``MINHASH_MOD`` (corpus's Count-Min
sketch), ``content_hash`` (textstats, streaming) and
``simhash_pair_bands``/``_simhash_bands`` (streaming/enrich_stream.py).

All hashes are md5-derived, so they are deterministic,
engine-portable (hash-matchable against a DuckDB oracle) and seedable
per permutation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_sql, normalized_text, shingles, tokens
from ..functions.vectors import cosine_similarity, lit_int_array, lit_long_array
from ._materialize import materialize_once
from ._parallel import ensure_parallelism
from .graph import connected_components

# MinHash-LSH shape: NUM_HASHES = BANDS * ROWS_PER_BAND.  12 hashes /
# 3 bands of 4 ⇒ P(candidate | jaccard=j) = 1-(1-j^4)^3: ~.05 at j=.5,
# ~.79 at j=.9 — tuned to surface near-dups without flooding.
NUM_HASHES = 12
BANDS = 3
ROWS_PER_BAND = 4


#: modulus for Kirsch-Mitzenmacher derived hashes (40 bits: collision
#: probability over realistic shingle-set sizes is negligible, and
#: i*h2+h1 stays far below signed-64 overflow).
MINHASH_MOD = 1 << 40

#: guard against float ceil/compare overshoot in the prefix and length
#: filters (ceil(t*s) must never exceed the exact rational ceiling, or
#: the prefix loses legal pairs).
_EPS = 1e-9


def _shingle_rows(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) rows: every word ``n``-gram of the lowercased
    tokens, duplicates kept."""
    return ensure_parallelism(docs).select(
        F.col(id_col), F.explode(shingles(tokens(text_col, lowercase=True), n)).alias("shingle")
    )


def _shingle_digests(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, digest): each doc's DISTINCT word ``n``-gram shingles as md5
    hex digests, so exchanges downstream carry 32-byte digests, never
    text.  Callers repartition it once and read that exchange from two
    branches; the ``isNotNull`` pre-seed keeps the branches' subplans
    identical (a join would infer it on ONE branch only, and Catalyst
    would then recompute the scan+explode per branch)."""
    return (
        ensure_parallelism(docs)
        .filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(tokens(text_col, lowercase=True), n))).alias(
                "shingle"
            ),
        )
        .select(F.col(id_col), F.md5("shingle").alias("digest"))
    )


def _shingle_df(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(digest, id, df): :func:`_shingle_digests` with each digest's
    document frequency.  One digest exchange feeds both the df count and
    the join back (exchange reuse); ``count(id)``, not ``count(*)``,
    keeps the id in the df branch so the two subplans match, and ids
    are never NULL, so the counts agree."""
    sh = _shingle_digests(docs, text_col, id_col, n).repartition("digest")
    return sh.join(sh.groupBy("digest").agg(F.count(id_col).alias("df")), "digest")


def _hex60(digest: str, pos: int) -> str:
    """SQL for the 60-bit integer spelled by hex digits
    ``pos .. pos+14`` of the md5 hex string ``digest``."""
    return f"CAST(conv(substring({digest}, {pos}, 15), 16, 10) AS BIGINT)"


def shingle_hashes(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, h) rows: each word ``n``-gram shingle of ``docs`` as a
    60-bit md5-derived long (the first 15 hex digits), duplicates kept.

    Exchanges downstream then ship 8-byte keys instead of ~30-byte
    strings, and a SQL oracle hashing with the same md5 expression
    sees identical set equality and intersection, even in the
    (≈1e-13) event of a collision."""
    return _shingle_rows(docs, text_col, id_col, n).select(
        F.col(id_col), F.expr(_hex60("md5(shingle)", 1)).alias("h")
    )


def _minhash(rel: DataFrame, id_col: str, digest: str) -> DataFrame:
    """(id, mh0 .. mh{NUM_HASHES-1}) MinHash signatures of ``rel``'s
    rows, whose ``digest`` (SQL over ``rel``) is each shingle's md5
    hex string: h1, h2 are its two 60-bit halves mod MINHASH_MOD and
    ``mh_i = min((h1 + (i+1)·h2) mod MINHASH_MOD)`` (Kirsch-Mitzenmacher)."""
    hashed = rel.select(
        F.col(id_col),
        F.expr(f"{_hex60(digest, 1)} % {MINHASH_MOD}").alias("h1"),
        F.expr(f"{_hex60(digest, 16)} % {MINHASH_MOD}").alias("h2"),
    )
    return hashed.groupBy(id_col).agg(
        *[
            F.expr(f"min((h1 + {i + 1} * h2) % {MINHASH_MOD})").alias(f"mh{i}")
            for i in range(NUM_HASHES)
        ]
    )


def bucket_pairs(
    buckets: DataFrame, members: str, a: str, b: str, max_bucket: int
) -> DataFrame:
    """(a, b) pairs from the sorted ``members`` array of each bucket row.

    A bucket of at most ``max_bucket`` members emits all pairs in array
    order; a larger one (the all-equal bucket a boilerplate corpus
    produces) emits a STAR — its first member paired with every other —
    so output stays linear in the bucket size while the bucket stays
    one connected component.  Members may be structs; the pair columns
    then hold whole members.  Not distinct: two buckets can emit the
    same pair."""
    # ONE expr parse instead of the Column-API nested lambda (62.7 ms
    # -> 0.8 ms per construction, identical tree and values)
    pairs = F.expr(
        f"flatten(transform({members}, (a, i) -> transform("
        f"slice({members}, i + 2, size({members})), b -> struct(a AS {a}, b AS {b}))))"
    )
    small = (
        buckets.filter(F.size(members) <= max_bucket)
        .select(F.explode(pairs).alias("p"))
        .select(F.col(f"p.{a}"), F.col(f"p.{b}"))
    )
    star = buckets.filter(F.size(members) > max_bucket).select(
        F.element_at(members, 1).alias(a),
        F.explode(F.slice(F.col(members), 2, F.size(members) - 1)).alias(b),
    )
    return small.unionByName(star)


def _attach(
    pairs: DataFrame,
    rel: DataFrame,
    id_col: str,
    a: dict,
    b: dict,
    keys: tuple = ("doc_a", "doc_b"),
    rel_b: DataFrame | None = None,
) -> DataFrame:
    """``pairs`` with per-doc columns of ``rel`` joined onto both
    sides: ``rel``'s column ``c`` lands as ``a[c]`` on the ``keys[0]``
    side and ``b[c]`` on the ``keys[1]`` side.  ``rel_b`` (default
    ``rel``) feeds the second side when the two sides come from
    different corpora."""
    for key, names, side in zip(keys, (a, b), (rel, rel if rel_b is None else rel_b)):
        cols = [F.col(c).alias(name) for c, name in names.items()]
        pairs = pairs.join(side.select(F.col(id_col).alias(key), *cols), key)
    return pairs


def _shingle_sets(rel: DataFrame, id_col: str, col: str = "h") -> DataFrame:
    """(id, shs): each doc's distinct ``col`` values as one array."""
    return rel.groupBy(id_col).agg(F.collect_set(col).alias("shs"))


def _jaccard(na: str, nb: str) -> Column:
    """Jaccard from a ``common`` count column and the two set sizes
    (SQL), rounded to 6 dp."""
    return F.expr(f"round(common / ({na} + {nb} - common), 6)")


def _verify_jaccard(
    pairs: DataFrame,
    sets: DataFrame,
    id_col: str,
    threshold: float,
    keys: tuple = ("doc_a", "doc_b"),
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """``pairs`` whose exact Jaccard over their ``_shingle_sets`` is at
    least ``threshold``, with ``common`` and ``jaccard`` (6 dp)
    columns; set intersection is in-row work on the attached arrays."""
    return (
        _attach(pairs, sets, id_col, {"shs": "sa"}, {"shs": "sb"}, keys, sets_b)
        .withColumn("common", F.expr("size(array_intersect(sa, sb))"))
        .withColumn("jaccard", _jaccard("size(sa)", "size(sb)"))
        .filter(F.col("jaccard") >= threshold)
    )


def _ordered_sets(rel: DataFrame, id_col: str) -> DataFrame:
    """(id, ordered, n_sh): each doc's (df, h) structs in the prefix
    filter's global order — ascending document frequency, ties broken
    by hash — from ``rel``'s (id, h, df) rows."""
    return (
        rel.groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("ordered"))
        .withColumn("n_sh", F.size("ordered"))
    )


def _prefix(threshold: float) -> Column:
    """The hashes of an ``_ordered_sets`` row's prefix: its first
    ``n_sh - ceil(t·n_sh) + 1`` elements, which any set with Jaccard
    ≥ t must share at least one of (pigeonhole)."""
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(_EPS)).cast("int")
        + F.lit(1)
    )
    return F.transform(F.slice("ordered", F.lit(1), prefix_len), lambda s: s["h"])


def _lengths_ok(na: str, nb: str, threshold: float) -> Column:
    """Length filter: J ≥ t ⇒ min ≥ t·max (epsilon keeps boundary pairs)."""
    return (F.col(na) >= F.col(nb) * F.lit(threshold) - F.lit(_EPS)) & (
        F.col(nb) >= F.col(na) * F.lit(threshold) - F.lit(_EPS)
    )


def _distinct_shingles(
    docs: DataFrame, text_col: str, id_col: str, n: int, max_df: int
) -> tuple[DataFrame, DataFrame]:
    """(raw, capped): the materialized distinct (id, shingle) set, and
    its rows whose shingle occurs in at most ``max_df`` docs."""
    # the collapsed set feeds the df count, the set sizes and both
    # self-join sides — materialize it once (round-11 scan audit)
    sh = materialize_once(_shingle_rows(docs, text_col, id_col, n).distinct())
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    return sh, sh.join(rare, "shingle")


def _common_shingles(sh: DataFrame, sized: DataFrame, id_col: str) -> DataFrame:
    """(doc_a, doc_b, common, na, nb), doc_a < doc_b: the
    inverted-index self-join of ``sh``'s (id, shingle) rows, so only
    docs sharing a shingle ever meet, with each side's set size — its
    row count in ``sized``."""
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sizes = sized.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return _attach(common, sizes, id_col, {"n_sh": "na"}, {"n_sh": "nb"})


def _normalized_or_empty(text_col: str) -> str:
    """SQL: ``normalized_text`` of ``text_col``, NULL as the empty text."""
    return f"coalesce({normalized_sql(text_col)}, '')"


def content_hash(text_col: str) -> Column:
    """``content_hash``: md5 of the ``normalized_text`` of ``text_col``,
    the exact-dedup group key (32 bytes per doc, never the text).
    NULL text hashes as the empty text, so a NULL-text doc still gets
    a key."""
    return F.expr(f"md5({_normalized_or_empty(text_col)})").alias("content_hash")


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """doc → NUM_HASHES-column MinHash signature over word n-gram shingles.

    One md5 per shingle, then Kirsch-Mitzenmacher derivation
    ``g_i = (h1 + i·h2) mod M`` for all permutations — 3× cheaper than
    k independent hashes at equal min-wise quality, and exactly
    portable to a SQL oracle (hex-substring → int on both engines).

    No distinct() before the groupBy: min() is insensitive to
    duplicate shingles, so a dedup shuffle would be pure overhead —
    partial aggregation collapses duplicates map-side anyway.
    """
    return _minhash(_shingle_rows(docs, text_col, id_col, n), id_col, "md5(shingle)")


def minhash_bands(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """signature → (id, band, band_sig): one md5 per band of ROWS_PER_BAND minhashes."""
    band_structs = []
    for b in range(BANDS):
        cols = [F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        band_structs.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("band_sig")))
    return sig.select(id_col, F.explode(F.array(*band_structs)).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


#: Buckets above this size switch from all-pairs to star expansion.
#: 256 docs in one (band, band_sig) bucket is already pathological
#: (mass-duplicated boilerplate); all-pairs there would emit 32k+
#: pairs from one aggregation row.
MAX_BUCKET_ALLPAIRS = 256


def dedup_minhash_candidates(
    docs: DataFrame,
    max_bucket_allpairs: int = MAX_BUCKET_ALLPAIRS,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding.

    Shape: bucket docs by (band, band_sig) with ONE groupBy, then
    expand pairs inside each bucket with array functions.  A band
    self-join would recompute the whole tokenize→shingle→signature
    pipeline for both join sides; the bucket groupBy computes it once
    and shuffles only (band_sig, doc_id) — the scale-dominant cost is
    one pass over the corpus plus a shuffle of signatures.

    Skew guard for 100 TB: a pathological bucket (millions of
    identical boilerplate docs) would explode ~|bucket|²/2 pairs from
    ONE task under all-pairs expansion.  Buckets larger than
    ``max_bucket_allpairs`` therefore degrade to STAR expansion — every
    id pairs with the bucket's minimum id — bounding output to
    O(|bucket|) while preserving exactly what downstream consumers
    need: the bucket stays one connected component for
    graph.connected_components, and each emitted pair is still a
    verifiable candidate for dedup_ngram_jaccard.  (Running dedup_exact
    first remains the cheapest way to shrink such buckets: exact
    duplicates collapse to one representative before LSH.)  Use
    lsh_bucket_stats to observe bucket-size skew and overflow counts.

    Output: (doc_a, doc_b) distinct, a < b.
    """
    sig = minhash_signatures(docs, "text", "doc_id")
    return _lsh_pairs(sig, "doc_id", max_bucket_allpairs)


def _lsh_pairs(sig: DataFrame, id_col: str, max_bucket_allpairs: int) -> DataFrame:
    """signature frame → candidate pairs: the banding + bucket-expand
    tail of dedup_minhash_candidates, shared with compositions that
    build signatures from an already-materialized shingle relation
    (dedup_pipeline's single-pass prefix)."""
    buckets = (
        minhash_bands(sig, id_col)
        .groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return bucket_pairs(buckets, "ids", "doc_a", "doc_b", max_bucket_allpairs).distinct()


def lsh_bucket_stats(
    docs: DataFrame,
    max_bucket_allpairs: int = MAX_BUCKET_ALLPAIRS,
) -> DataFrame:
    """Per-band LSH bucket-size diagnostics — the observability half of
    the skew guard in dedup_minhash_candidates.  Returns, per band:
    collision buckets (size>1), max bucket size, docs in collision
    buckets, and how many buckets overflowed the all-pairs cap (those
    degrade to star expansion).  Pure aggregate: never materializes id
    arrays, so it is safe to run on adversarial corpora first.
    """
    bands = minhash_bands(minhash_signatures(docs, "text", "doc_id"), "doc_id")
    sizes = bands.groupBy("band", "band_sig").agg(F.count(F.lit(1)).alias("n"))
    return (
        sizes.filter(F.col("n") > 1)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum("n").alias("docs_in_buckets"),
            F.sum((F.col("n") > max_bucket_allpairs).cast("long")).alias("n_overflow"),
        )
        .orderBy("band")
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup on normalized text: one representative (min id) +
    duplicate count per distinct content hash.  Shuffles digests, not text.
    """
    return (
        docs.select(F.col("doc_id"), content_hash("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


SIMHASH_BITS = 64


def _simhash_vote(h, b: int):
    """Token's ±1 direction for bit ``b`` from its md5 hex string.

    md5 has 32 hex digits; a 64-bit fingerprint takes TWO direction
    bits per digit: bit b<32 is the digit's high bit (value 8 — digit
    lexicographically >= '8', since hex digits sort 0-9 < a-f), bit
    b>=32 is the digit's value-4 bit (digit in 4-7 or c-f).  Plain
    string comparisons, not isin(): cheaper per token instance, and
    exactly portable to a SQL oracle.
    """
    d = F.substring(h, (b % 32) + 1, 1)
    if b < 32:
        hit = d >= "8"
    else:
        hit = ((d >= "4") & (d <= "7")) | (d >= "c")
    return F.when(hit, F.lit(1)).otherwise(F.lit(-1))


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """64-bit SimHash fingerprint per doc (token-frequency-weighted bit vote).

    64 bits is the industry-standard width: a 32-bit space is
    birthday-saturated at >= 1e8 docs (the 100 TB regime), flooding
    band buckets with unrelated docs and draining all discrimination
    from hamming<=3.  ``bits=32`` remains available for the
    collision-rate comparison test.  Direction bits come from the
    token's md5 (two per hex digit, see _simhash_vote) — engine-portable.

    ZERO-shuffle plan, SINGLE traversal: the frequency-weighted vote
    Σ cnt(token)·dir_b equals a plain sum of dir_b over raw token
    INSTANCES, so each doc's fingerprint is a pure per-row expression —
    md5 the token array once, then ONE ``aggregate`` pass whose
    accumulator is the ``bits``-element vote-count array (``zip_with``
    add of each token's ±1 vote vector), all inside whole-stage codegen
    with no exchange at all.  (Earlier formulations: ×32 bit explode =
    4.4 s at sf0.1; groupBy(doc,token) conditional sums = 2.7 s but
    shuffles a corpus-scale distinct-token relation; 32 SEPARATE
    per-bit aggregates = zero shuffle but 32 full array traversals per
    row, 1.7 s; this one traverses once.)

    Packing note: bit 63's weight is the SIGNED two's-complement value
    -2**63 (Spark longs and DuckDB BIGINTs cannot represent +2**63;
    DuckDB even refuses the shift), so fingerprints with the top bit
    set are negative longs — harmless, since banding masks with & 255
    after an arithmetic shift and hamming uses bit_count(xor).

    Vote evaluation (round 9): the direction bits are EXACTLY
    ``_simhash_vote``'s — digit b's value-8 bit for b<32, digit
    (b−32)'s value-4 bit for b>=32 — but derived with integer
    shift/mask over four 32-bit chunks of the md5 (one conv+parse per
    chunk) instead of 64 per-token substring comparisons: same
    fingerprints bit-for-bit (pinned vs the string formulation in
    tests/test_dedup_scale.py), ~35 % less per-token CPU on the
    simhash-heavy headliners.  ``bits != 64`` falls back to the
    string-comparison reference formulation.
    """

    def chunk_votes(ch):
        # ch = [digits 0-7, 8-15, 16-23, 24-31] as 32-bit ints; digit i
        # occupies bits 4*(7 - i%8) .. +3 of chunk i//8.  Vote bit b<32
        # reads digit b's bit 3 (value 8); bit b>=32 reads digit
        # (b-32)'s bit 2 (value 4).  One zip_with over two literal
        # 64-entry (chunk-index, shift) tables, not 64 unrolled
        # branches (round-11 optimization pass: the unrolled tree cost
        # ~0.4 s of py4j/analysis per construction; the per-bit
        # shift/mask/±1 arithmetic is unchanged, so fingerprints are
        # bit-identical).
        cs, shifts = [], []
        for b in range(64):
            i, bitpos = (b, 3) if b < 32 else (b - 32, 2)
            c, p = divmod(i, 8)
            cs.append(c + 1)
            shifts.append(4 * (7 - p) + bitpos)
        return F.zip_with(
            lit_int_array(cs),
            lit_int_array(shifts),
            lambda c, s: (
                F.call_function("shiftright", F.element_at(ch, c), s)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ).cast("int"),
        )

    hs = F.transform(tokens("text", lowercase=True), lambda t: F.md5(t))
    if bits == 64:
        hs = F.transform(
            hs,
            lambda h: F.array(
                *[F.conv(F.substring(h, 1 + 8 * c, 8), 16, 10).cast("long") for c in range(4)]
            ),
        )
        votes = chunk_votes
    else:
        def votes(h):
            return F.array(*[_simhash_vote(h, b) for b in range(bits)])

    base = ensure_parallelism(docs).select(F.col("doc_id"), hs.alias("hs"))
    counts = F.aggregate(
        "hs",
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )
    powers = lit_long_array([-(1 << 63) if b == 63 else (1 << b) for b in range(bits)])
    packed = F.aggregate(
        F.zip_with(counts, powers, lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return base.select(F.col("doc_id"), packed.alias("simhash"))


#: Shingles appearing in more than this many documents are excluded
#: from the inverted-index JOIN (not from the per-doc size counts):
#: a boilerplate shingle shared by 1M docs would alone emit ~5·10¹¹
#: join pairs from one key.  The standard "stop-shingle" df cap; set
#: far above anything a benign corpus produces.
MAX_SHINGLE_DF = 10_000


def dedup_ngram_jaccard(
    docs: DataFrame,
    threshold: float = 0.8,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    Pair generation is an equi-join on the shingle (inverted-index
    join), so only docs sharing ≥1 shingle ever meet — never a cross
    product.  At 100 TB you'd run dedup_minhash_candidates first and
    feed ONLY candidate pairs here (verify step); this operator is
    that verify step expressed standalone.

    Skew guard: shingles with document frequency above
    ``max_shingle_df`` are dropped from the JOIN side only (per-doc
    shingle-set sizes still count them), bounding any single join
    key's fan-out.  Near-dup pairs share many shingles, so losing the
    few boilerplate ones leaves their intersection (and the computed
    Jaccard, which slightly UNDER-estimates — conservative) intact;
    the df histogram is observable via the same groupBy.
    """
    sh, capped = _distinct_shingles(docs, "text", "doc_id", 3, max_shingle_df)
    return (
        _common_shingles(capped, sh, "doc_id")
        .withColumn("jaccard", _jaccard("na", "nb"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_embedding_cosine(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold, blocked by
    ``label`` (cluster/partition id) so the self-join is an
    equi-join per block, not n².  The blocking column is the IVF-style
    coarse quantizer cell; with no precomputed cells, substitute an
    LSH sign-bucket.  See similarity.ann_ivf for the search analog.
    """
    e = emb.select(
        F.col("vec_id"),
        F.col("label").alias("blk"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, "blk")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


#: SimHash banding: 8 bands of 8 bits over the 64-bit fingerprint.
#: Pigeonhole guarantee: any pair within hamming distance 7 shares at
#: least one intact band, so banded candidate generation is COMPLETE
#: for max_hamming <= SIMHASH_BANDS - 1.
SIMHASH_BANDS = 8


def _simhash_bands(width: int, n: int, col: str = "simhash") -> Column:
    """Array of the ``width``-bit windows of the fingerprint ``col``
    starting at bits 0, 8, .. 8·(n−1) — byte bands for width 8,
    overlapping adjacent-band pairs for width 16."""
    mask = F.lit((1 << width) - 1)
    return F.array(*[F.shiftright(col, 8 * i).bitwiseAND(mask) for i in range(n)])


def simhash_pair_bands(sig: DataFrame, id_col: str, side: str, max_hamming: int) -> DataFrame:
    """(``side``_id, ``side``_sim, band, bv): one row per 16-bit
    adjacent-band pair of each ``simhash`` fingerprint in ``sig`` — the
    SIMHASH_BANDS − 1 overlapping two-byte windows.  Two fingerprints
    within ``max_hamming`` share a (band, bv) key, so an equi-join on
    it finds every pair: ≤3 flipped bits corrupt ≤3 of the 8
    byte-bands, and 5 intact positions among 8 always contain an
    adjacent pair.  Raises ValueError for ``max_hamming > 3``, where
    that no longer holds."""
    if max_hamming > 3:
        raise ValueError(
            "pair-band candidate generation is complete only for max_hamming <= 3"
        )
    return sig.select(
        F.col(id_col).alias(f"{side}_id"),
        F.col("simhash").alias(f"{side}_sim"),
        F.posexplode(_simhash_bands(16, SIMHASH_BANDS - 1)).alias("band", "bv"),
    )


def dedup_simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = MAX_BUCKET_ALLPAIRS,
) -> DataFrame:
    """Near-dup pairs from banded SimHash fingerprints: band the
    64-bit fingerprint into SIMHASH_BANDS byte buckets, candidate
    pairs from in-bucket expansion, verify with the exact hamming
    distance ``bit_count(xor)``.  Candidate generation is COMPLETE for
    ``max_hamming <= SIMHASH_BANDS - 1`` by pigeonhole **for buckets
    of at most max_bucket docs**; larger buckets (the all-same byte a
    boilerplate corpus produces) degrade to STAR expansion — every
    member pairs with the bucket's minimum id — so the bucket stays
    connected at the candidate level with O(|bucket|) output instead
    of being dropped, and every emitted pair is still hamming-verified.

    Scale shape mirrors dedup_minhash_candidates: ONE fingerprint pass
    (a band self-JOIN would recompute the whole tokenize→simhash
    pipeline for both sides), one groupBy shuffle carrying
    (band, byte, id, fingerprint) rows, pair expansion with array
    functions inside the bucket row, and verification before the
    dedup ``distinct()`` so only surviving pairs shuffle again.
    """
    sig = simhash(docs)
    bands = sig.select(
        F.col("doc_id"),
        "simhash",
        F.posexplode(_simhash_bands(8, SIMHASH_BANDS)).alias("band", "bv"),
    )
    member = F.struct(F.col("doc_id").alias("id"), F.col("simhash").alias("sim"))
    buckets = (
        bands.groupBy("band", "bv")
        .agg(F.sort_array(F.collect_set(member)).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        bucket_pairs(buckets, "ms", "a", "b", max_bucket)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .filter(hamming <= max_hamming)
        .distinct()
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
    )


def dedup_chunks(docs: DataFrame, chunk_tokens: int = 20) -> DataFrame:
    """Corpus-wide chunk-level exact dedup (the C4/CCNet "line dedup"
    pass, generalized to fixed ``chunk_tokens``-token chunks because the
    synthetic corpus has no line structure): every distinct chunk keeps
    only its FIRST occurrence (min ``(doc_id, chunk_idx)``) anywhere in
    the corpus; each document is then reassembled from its surviving
    chunks.  Beyond the reference's whole-record guard
    (core/map_reduce.go:167-182) — this is sub-document dedup, the pass
    that strips boilerplate repeated across pages.

    100 TB shape: chunking is a map-side array op; the winner election
    groups by the 32-byte md5 ONLY carrying ``(hash, doc_id, idx)`` —
    chunk text never rides the hash-keyed exchange.  Winners rejoin the
    chunk text by ``(doc_id, idx)`` (equi-join, AQE-skew-safe) and
    reassembly re-aggregates by ``doc_id``; both those exchanges carry
    each chunk's text exactly once.

    Returns one row per input doc: ``doc_id, n_chunks, n_kept,
    text_dedup`` (empty string when every chunk was seen earlier).
    """
    tk = tokens("text", lowercase=True)
    n_chunks = F.ceil(F.size(tk) / F.lit(chunk_tokens)).cast("int")
    # NB: F.sequence(0, -1) is DESCENDING, not empty — guard zero-token docs.
    idxs = F.when(F.size(tk) > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_arr = F.transform(
        idxs,
        lambda i: F.array_join(F.slice(tk, i * chunk_tokens + 1, chunk_tokens), " "),
    )
    base = docs.select(F.col("doc_id"), chunk_arr.alias("chunks"))
    chunks = base.select(
        "doc_id", F.posexplode_outer("chunks").alias("chunk_idx", "chunk")
    )
    hashed = chunks.where(F.col("chunk").isNotNull()).select(
        "doc_id", "chunk_idx", F.md5("chunk").alias("h")
    )
    winners = (
        hashed.groupBy("h")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.chunk_idx").alias("chunk_idx"))
    )
    kept = chunks.join(winners, ["doc_id", "chunk_idx"])
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    totals = base.select("doc_id", F.size("chunks").cast("long").alias("n_chunks"))
    return totals.join(reassembled, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def dedup_pipeline(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The END-TO-END near-dup dedup pass a training pipeline actually
    runs, composed from this module's stages: MinHash-LSH candidate
    pairs → exact n-gram-Jaccard verification of ONLY those pairs →
    connected components over the verified edges → per-cluster
    representative election.  (The reference's one end-to-end test is
    exactly its full pipeline, test/genSequentiallyTokens.go:29-45;
    this is the analogous composition for the dedup surface.)

    Returns one row per input doc:
    ``doc_id, cluster_id, n_cluster, keep`` — ``cluster_id`` is the
    min doc id of the verified-duplicate component (the doc's own id
    for singletons), ``keep`` marks the representative.

    Stage shape at 100 TB, and why nothing is computed twice:
      * candidates: one LSH bucketing groupBy (see
        dedup_minhash_candidates — O(n·bands) shuffle, star-expansion
        skew guard above ``MAX_BUCKET_ALLPAIRS``).
      * verify: LSH leaves O(n) candidate pairs, so each side's
        DISTINCT shingle set attaches by equi-join and the Jaccard is
        in-row ``array_intersect`` work — never an inverted-index
        re-join of the whole corpus (that is dedup_ngram_jaccard's
        standalone job; here the candidate filter has already done the
        pruning).
      * components: connected_components CHECKPOINTS the verified edge
        list eagerly before its first round, so the whole
        candidates→verify prefix executes exactly ONCE; every
        propagation round and the final label join read the
        materialized blocks, not the lineage.
      * representative: labels cover only docs with >= 1 verified
        duplicate; the left join back to the corpus fills singletons
        with their own id, and cluster_id IS the representative
        (min-label propagation elects the minimum member).
    """
    # ONE corpus pass for BOTH the signature and the verify stages
    # (the composition used to tokenize the corpus three times: once
    # for minhash and once per verify join side).  Per-doc DISTINCT
    # shingles digest to md5 in the scan projection — the digest is
    # simultaneously the minhash hash source (h1/h2 are substrings of
    # it, exactly as minhash_signatures computes them) and the
    # verify-set element (set intersection on digests has identical
    # cardinality to intersection on raw shingles) — and the
    # (id, digest) relation repartitions by id ONCE so the signature
    # aggregation and the verify-set rebuild sit on the SAME exchange
    # (ReuseExchange, the ngram_coverage pattern; see _shingle_digests).
    sh = _shingle_digests(docs, "text", "doc_id", 3).repartition("doc_id")
    cand = _lsh_pairs(_minhash(sh, "doc_id", "digest"), "doc_id", MAX_BUCKET_ALLPAIRS)
    edges = _verify_jaccard(
        cand, _shingle_sets(sh, "doc_id", "digest"), "doc_id", threshold
    ).select("doc_a", "doc_b")
    labels = connected_components(edges, max_iter=20)
    clus = (
        docs.select(F.col("doc_id"))
        .join(labels, "doc_id", "left")
        .select(F.col("doc_id"), F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"))
    )
    sizes = clus.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_cluster"))
    return clus.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_cluster",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def dedup_incremental(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental exact dedup of a NEW batch against an EXISTING
    corpus — the steady-state shape of a production ingestion pipeline
    (each crawl snapshot dedups against everything already accepted,
    not against itself alone).  A delta doc survives iff its normalized
    content hash (1) never appears in the base corpus and (2) is the
    first occurrence (min id) within the delta itself.

    100 TB shape: both sides reduce to 32-byte digests before any
    exchange; the base side pre-aggregates to one row per distinct
    hash (its total text volume never matters), and the probe is a
    hash equi-join — the same bloom-filter-friendly shape Spark's
    runtime row-group skipping exploits.

    Returns one row per delta doc: ``doc_id, in_base, keep``.
    """
    bh = (
        base.select(content_hash("text"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    dh = delta.select(F.col("doc_id"), content_hash("text"))
    first_in_delta = dh.groupBy("content_hash").agg(F.min("doc_id").alias("first_id"))
    return (
        dh.join(first_in_delta, "content_hash")
        .join(bh, "content_hash", "left")
        .select(
            "doc_id",
            F.col("n_base").isNotNull().alias("in_base"),
            (F.col("n_base").isNull() & (F.col("doc_id") == F.col("first_id"))).alias("keep"),
        )
    )


def substring_spans(docs: DataFrame, window: int = 12, min_docs: int = 2) -> DataFrame:
    """Exact repeated-substring detection at token granularity — the
    span-level dedup pass of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"): a ``window``-token span whose
    exact text recurs in at least ``min_docs`` DISTINCT documents is
    memorization fuel even when the whole documents differ, so a
    training pipeline measures (and then cuts) those spans rather than
    whole-doc duplicates.

    The paper builds a corpus-wide suffix array; the Spark-native
    equivalent is the fixed-width rolling window: every doc emits its
    ``window``-token sliding windows (the same shingle machinery as
    MinHash, so tokenizer semantics stay reference-exact, Q2), each
    window is md5-collapsed IN THE SAME PROJECTION so only 32-byte
    digests ever reach an exchange — never the span text.

    ONE corpus traversal: the digest relation has TWO consumers (the
    cross-doc document-frequency count and the per-doc attribution),
    and expressing the count as a separate groupBy + join-back makes
    Spark re-tokenize the whole corpus for the second consumer (the
    collapsed aggregates defeat exchange reuse; measured 1.37 s vs
    0.88 s at sf0.1 — and at 100 TB the window relation is
    token-count-sized, so persisting it instead is a petabyte write).
    A count() WINDOW over the digest fuses both consumers into one
    operator: scan → explode/md5 → partial-agged groupBy(doc, digest)
    → one exchange on digest → one exchange on doc.  Skew note: a
    boilerplate span shared by B docs puts B digest rows in one
    window partition — B is bounded by real-world span frequency
    (~1e6-1e8 for the hottest web boilerplate), a spillable sort, and
    the alternative shapes pay 2× full-corpus CPU (recompute) or a
    PB-scale materialization (persist) unconditionally.

    Returns one row per document that has at least one full window
    (docs shorter than ``window`` tokens have no spans by definition):
    ``doc_id, n_windows, dup_windows, dup_ratio`` where dup_windows
    counts window POSITIONS whose digest occurs in >= min_docs docs.
    """
    wins = _shingle_rows(docs, "text", "doc_id", window).select(
        "doc_id", F.md5("shingle").alias("wh")
    )
    per = wins.groupBy("doc_id", "wh").agg(F.count(F.lit(1)).alias("cnt"))
    # per carries one row per DISTINCT (doc, digest), so count(*) per
    # digest IS the distinct-doc count — no countDistinct shuffle.
    nd = F.count(F.lit(1)).over(Window.partitionBy("wh"))
    flagged = per.withColumn("is_dup", (nd >= min_docs).cast("int"))
    dup = F.sum(F.when(F.col("is_dup") == 1, F.col("cnt")).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_windows"),
        dup.cast("long").alias("dup_windows"),
        F.round(dup / F.sum("cnt"), 6).alias("dup_ratio"),
    )


def dedup_editdist(
    docs: DataFrame,
    max_dist: int = 64,
    max_hamming: int = 10,
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: SimHash banding
    proposes candidates, exact Levenshtein over the normalized text
    confirms them — the two-tier candidate/verify shape every
    at-scale fuzzy dedup uses, with the MOST precise (and most
    expensive) verifier reserved for the tiny candidate set.

    Scale shape: the O(n²) pair space is never touched — candidates
    come from :func:`dedup_simhash_pairs` (banded, star-guarded,
    hamming-prefiltered to ``max_hamming``), and only those pairs
    join the text back (two broadcast-or-shuffle equi-joins on doc
    id).  Levenshtein is O(len_a·len_b) per pair, which is exactly
    why it must sit BEHIND the banding: at 100 TB the verifier cost
    is proportional to the near-dup rate, not the corpus size.

    Returns ``doc_a, doc_b, dist, edit_sim`` for pairs with
    ``dist <= max_dist``; ``edit_sim = 1 - dist/max(len_a, len_b)``
    (rounded 6 dp) is the normalized similarity a filter thresholds.
    """
    cand = dedup_simhash_pairs(
        docs, max_hamming=max_hamming).select("doc_a", "doc_b")
    norm = docs.select(F.col("doc_id"), normalized_text("text").alias("nt"))
    joined = _attach(cand, norm, "doc_id", {"nt": "ta"}, {"nt": "tb"})
    dist = F.levenshtein("ta", "tb")
    longest = F.greatest(F.length("ta"), F.length("tb"))
    return (
        joined.select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("dist"),
            # guard the zero-length denominator: two empty normalized
            # texts SimHash identically and band-match, and 0/0 would
            # be NULL (or an ANSI error); identical-empty pairs are
            # exact duplicates -> similarity 1.0 (round-6 advice)
            F.when(longest > 0, F.round(1.0 - dist / longest, 6))
            .otherwise(F.lit(1.0))
            .alias("edit_sim"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def dedup_incremental_fuzzy(
    base: DataFrame,
    delta: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Fuzzy incremental dedup — the NEAR-dup counterpart of
    :func:`dedup_incremental`: each new-batch (delta) doc is checked
    against the accepted corpus (base) for SimHash matches within
    ``max_hamming``, not just exact content equality.  The
    steady-state ingestion question a production pipeline actually
    asks ("is this crawl page a near-copy of anything we already
    hold"), answered without ever joining text.

    Scale shape: ONE fingerprint pass per side (64-bit SimHash, zero
    shuffle), then a 16-BIT ADJACENT-BAND-PAIR join: keys are the 7
    overlapping two-byte windows of the fingerprint, not single
    bytes.  Completeness for ``max_hamming <= 3`` is still pigeonhole
    — ≤3 flipped bits corrupt ≤3 of the 8 byte-bands, leaving ≥5
    intact, and 5 intact positions among 8 always contain an ADJACENT
    pair (the maximum adjacency-free subset of a path of 8 has 4
    nodes) — while the 16-bit key space shrinks bucket sizes
    quadratically: on the sf0.1 corpus the candidate fan-out drops
    22.7M → 2.3M pairs, because vote-correlated byte values (template
    vocabulary) make single-byte buckets catastrophically hot.  The
    base side still ships only (band, key, id, fingerprint) rows —
    the accepted corpus is a few integers per doc regardless of text
    volume; hamming verification and the per-delta-doc aggregation
    collapse candidates before anything re-shuffles.

    Returns one row per delta doc: ``doc_id, n_matches (distinct base
    docs within the radius), keep``.
    """

    def bands_of(docs, side):
        sig = simhash(docs)
        # materialization-by-aggregation: the fingerprint is a PROJECTED
        # expression, and Catalyst collapses projections straight
        # through exchanges — without this barrier the hamming filter
        # re-evaluates the whole tokenize→vote pipeline PER JOINED ROW
        # (373k× instead of 5k× at sf0.1; measured 7 s → 2 s).  An
        # aggregate's outputs cannot be collapsed into, stay
        # recomputable on executor loss (unlike a checkpoint), and the
        # exchange ships only (id, fingerprint).
        sig = sig.groupBy("doc_id").agg(F.max("simhash").alias("simhash"))
        return simhash_pair_bands(sig, "doc_id", side, max_hamming)

    db = bands_of(delta, "delta")
    bb = bands_of(base, "base")
    hamming = F.bit_count(F.col("delta_sim").bitwiseXOR(F.col("base_sim")))
    matches = (
        db.join(bb, ["band", "bv"])
        .filter(hamming <= max_hamming)
        .select("delta_id", "base_id")
        .distinct()
        .groupBy("delta_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    return (
        delta.select(F.col("doc_id"))
        .join(matches.withColumnRenamed("delta_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            (F.coalesce("n_matches", F.lit(0)) == 0).alias("keep"),
        )
    )


def dedup_exact_keep_best(docs: DataFrame) -> DataFrame:
    """Exact dedup electing the BEST copy, not the arbitrary min-id
    one: within each normalized-content group the representative is
    the longest raw text (the most complete crawl of the page),
    tie-broken by min id.  Production pipelines keep the best copy
    because near-identical crawls differ in truncation/boilerplate
    stripping, and the min-id copy is uncorrelated with quality.

    Same scale shape as dedup_exact: the group key is the 32-byte
    digest, the election is one packed-struct max aggregation
    (map-side combinable; raw text length rides as an integer, the
    text itself never joins the digest shuffle).

    Returns ``doc_id, content_hash, n_copies, keep``.
    """
    h = docs.select(F.col("doc_id"), content_hash("text"), F.length("text").alias("len"))
    elected = h.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        (
            F.max(F.struct(F.col("len"), (-F.col("doc_id")).alias("negid")))["negid"]
            * -1
        ).alias("best_id"),
    )
    return h.join(elected, "content_hash").select(
        "doc_id",
        "content_hash",
        "n_copies",
        (F.col("doc_id") == F.col("best_id")).alias("keep"),
    )


def minhash_accuracy_report(docs: DataFrame, n: int = 3) -> DataFrame:
    """Estimator-quality audit for the MinHash pipeline — the dedup
    analog of ann_recall_report: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (fraction of equal signature
    components — the unbiased min-wise estimator) next to the TRUE
    n-gram-set Jaccard and their absolute error.  This is how a
    pipeline owner tunes NUM_HASHES/BANDS against a real corpus
    instead of trusting the 1-(1-j^r)^b curve blindly.

    Scale shape: identical to dedup_pipeline's verify stage — the
    audit touches only the O(n) candidate pairs (both the 12-column
    signatures and the distinct shingle sets attach by equi-join on
    the pair ids), so its cost tracks the near-dup rate, not the
    corpus size.  All arithmetic is integer-count division, exactly
    portable to a SQL oracle.

    Returns ``doc_a, doc_b, est_sim, true_sim, abs_err`` (6 dp).
    """
    # ONE signature build serves both candidate generation and the
    # estimator columns — candidates therefore come from the SAME
    # n-gram signatures being audited (a dedup_minhash_candidates call
    # here would hardwire its own 3-gram signatures regardless of
    # ``n``, auditing an estimator that never produced the pairs)
    sig = minhash_signatures(docs, "text", "doc_id", n)
    # the signature table feeds candidate generation AND both
    # estimator-attach sides — materialize the 12-int-per-doc frame
    # once so the minhash pipeline runs once (round-11 scan audit)
    sig = materialize_once(sig)
    cand = _lsh_pairs(sig, "doc_id", MAX_BUCKET_ALLPAIRS)
    sides = [{f"mh{i}": f"{s}{i}" for i in range(NUM_HASHES)} for s in "ab"]
    sh_sets = ensure_parallelism(docs).select(
        F.col("doc_id"),
        F.array_distinct(shingles(tokens("text", lowercase=True), n)).alias("shs"),
    )
    j = _attach(
        _attach(cand, sig, "doc_id", *sides), sh_sets, "doc_id", {"shs": "sh_a"}, {"shs": "sh_b"}
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(NUM_HASHES)
    )
    est = matches / F.lit(float(NUM_HASHES))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    true = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return j.select(
        "doc_a",
        "doc_b",
        F.round(est, 6).alias("est_sim"),
        F.round(true, 6).alias("true_sim"),
        F.round(F.abs(est - true), 6).alias("abs_err"),
    )


def set_similarity_join_prefix(docs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the
    AllPairs / PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    WWW'08).  Returns every pair with n-gram-shingle Jaccard ≥
    ``threshold`` — the same answer as the exhaustive inverted-index
    join, but candidates are generated from each document's PREFIX
    only.

    Why this scales where the plain inverted-index join
    (dedup_ngram_jaccard) needs its df-cap approximation: order every
    document's shingle set by ascending global document frequency
    (rarest first; ties broken by shingle value so the order is a
    deterministic total order).  For a set of size s, any other set
    with Jaccard ≥ t must share at least one of the first
    p = s - ceil(t*s) + 1 shingles in that order — sharing only the
    s - p tail shingles bounds the intersection below the threshold
    (pigeonhole).  So only the p rarest shingles of each doc enter
    the join; the high-df boilerplate shingles that cause quadratic
    fan-out sit at the TAIL of the order and never become join keys.
    Exactness is free: a length filter (t·|b| ≤ |a| ≤ |b|/t) and
    PPJoin's positional filter (overlap upper bound from the first
    common prefix position) prune further, and survivors are verified
    on their full shingle sets.

    Shuffle shape at 100 TB: one distinct over (doc, shingle), one
    df groupBy, one per-doc sort_array groupBy (no global rank — the
    (df, shingle) struct IS the order key, so the canonical order
    needs no single-partition window), an equi-join on prefix
    shingles whose fan-out is bounded by design, and a verify join
    shipping each candidate's shingle array once.

    Reference anchor: the reference's only join-like machinery is the
    shuffle route of core/map_reduce.go — this operator is part of the
    dedup extension surface, not a port.
    """
    # shingles collapse to a 60-bit md5-derived long IMMEDIATELY: every
    # downstream exchange (df window, per-doc sets, prefix join, verify
    # arrays) ships 8-byte keys instead of ~30-byte strings — measured
    # 2.4 s → sub-2 s at sf0.1, and at 100 TB the verify-join payload
    # is the dominant shuffle.  The hashed shingle set feeds the df
    # window chain AND the verify sets — materialize once (round-11
    # scan audit).
    sh = materialize_once(shingle_hashes(docs, "text", "doc_id", 3).distinct())
    # df as a COUNT WINDOW over the shingle partition, not a separate
    # groupBy + join-back: one exchange on shingle serves both the df
    # computation and the (doc, shingle, df) attribution (same fusion
    # as dedup_substring — the join-back shape re-shuffles sh a second
    # time and splits the consumer tree).
    with_df = sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
    pref = _ordered_sets(with_df, "doc_id").select(
        F.col("doc_id"),
        F.col("n_sh"),
        F.posexplode(_prefix(threshold)).alias("pos", "pshingle"),
    )
    # the prefix relation is both self-join sides — materialize once
    pref = materialize_once(pref)
    a, b = pref.alias("a"), pref.alias("b")
    matched = (
        a.join(b, F.col("a.pshingle") == F.col("b.pshingle"))
        .filter(_lengths_ok("a.n_sh", "b.n_sh", threshold))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
            (F.col("a.pos") + 1).alias("ia"),
            (F.col("b.pos") + 1).alias("ib"),
        )
    )
    # PPJoin positional filter (Xiao et al.): per pair, the FIRST
    # common prefix element (min position on either side — common
    # elements appear in the same relative order under the shared
    # total order, so min(ia) and min(ib) name the same element,
    # which prefix-filter completeness puts inside both prefixes)
    # bounds the overlap: |A∩B| ≤ 1 + min(|A|-ia, |B|-ib).  Pairs
    # whose bound cannot reach the J ≥ t overlap requirement
    # c ≥ t(|A|+|B|)/(1+t) are dropped BEFORE the verify join ships
    # their sets.  This replaces the plain distinct() with the same
    # one-exchange groupBy, just carrying two mins.  Slack covers the
    # 6-dp rounding of the verified jaccard.
    overlap_needed = (
        (F.lit(threshold) - F.lit(1e-6))
        * (F.col("na") + F.col("nb"))
        / F.lit(1.0 + threshold)
    ) - F.lit(_EPS)
    cand = (
        matched.groupBy("doc_a", "doc_b")
        .agg(
            F.min("ia").alias("ia"),
            F.min("ib").alias("ib"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib"))
            >= overlap_needed
        )
        .select("doc_a", "doc_b")
    )
    # verify sets come straight from sh (collect_set over the reused
    # (doc, h) exchange), NOT from the ordered sets: the verify branch
    # then skips the df window+sort entirely.
    return _verify_jaccard(cand, _shingle_sets(sh, "doc_id"), "doc_id", threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def _snm_window_pairs(
    docs: DataFrame, key, id_col: str, window: int
) -> DataFrame:
    """One sorted-neighborhood pass: global rank by ``key`` (bucketed
    two-pass — see dedup_sorted_neighborhood), then all id pairs within
    ``window`` positions, as (doc_a < doc_b) rows."""
    keyed = (
        ensure_parallelism(docs)
        .select(F.col(id_col), key.alias("k"))
        .withColumn("bkt", F.substring(F.col("k"), 1, 2))
    )
    counts = keyed.groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = counts.select(
        "bkt", (F.sum("cnt").over(w_off) - F.col("cnt")).alias("offset")
    )
    w_in = Window.partitionBy("bkt").orderBy(F.asc("k"), F.asc(id_col))
    kf, of = keyed.alias("_k"), F.broadcast(offsets).alias("_o")
    ranked = (
        kf.join(of, F.col("_k.bkt").eqNullSafe(F.col("_o.bkt")))
        .select(
            F.col(f"_k.{id_col}").alias(id_col),
            F.col("_k.k").alias("k"),
            F.col("_k.bkt").alias("bkt"),
            F.col("_o.offset").alias("offset"),
        )
        .withColumn("rnk", F.row_number().over(w_in) - 1 + F.col("offset"))
        .select(id_col, "rnk")
    )
    blk = F.floor(F.col("rnk") / window)
    left = ranked.select(
        F.col(id_col).alias("ia"),
        F.col("rnk").alias("ra"),
        F.explode(F.array(blk, blk + 1)).alias("jblk"),
    )
    right = ranked.select(
        F.col(id_col).alias("ib"), F.col("rnk").alias("rb"), blk.alias("jblk")
    )
    return (
        left.join(right, "jblk")
        .filter((F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + window))
        .select(
            F.least("ia", "ib").alias("doc_a"), F.greatest("ia", "ib").alias("doc_b")
        )
    )


def dedup_sorted_neighborhood(
    docs: DataFrame,
    passes: tuple = ("prefix",),
) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernández & Stolfo,
    SIGMOD'95): sort the corpus by a normalized-text prefix key, then
    compare only records within 4 positions of each other in
    the global sort order; survivors are verified on exact n-gram
    Jaccard ≥ 0.5.  The third blocking family next to
    LSH banding (probabilistic) and prefix filtering (exact):
    sorted-neighborhood catches near-dups that share a PREFIX even
    when token-set overlap alone would need a lower threshold, with a
    candidate count linear in n (n·window pairs).

    ``passes`` is the classic multi-pass fix for single-key blindness
    (Hernández-Stolfo run the method over several key orderings and
    union the pairs): ``"prefix"`` keys on the normalized-text prefix;
    ``"sorted"`` keys on the prefix of the SORTED token sequence —
    order-insensitive, so near-dups whose openings diverge (prepended
    boilerplate, reordered clauses) still sort adjacently.  Candidate
    pairs union before one shared verify.

    Scale shape — the global rank is a bucketed two-pass: a naive
    ``row_number() OVER (ORDER BY key)`` has no partition key, so it
    funnels every row through ONE task.  Instead the key's 2-char
    prefix forms a bucket (lexicographic (bucket, key) order == key
    order by construction), pass 1 counts per bucket (tiny frame,
    prefix-summed with a single window over ≤256² rows), pass 2 ranks
    within buckets in parallel and adds the broadcast offset.
    Neighborhood pairing is then an equi-join on rank blocks of size
    4 (a pair ≤ 4 apart spans at most two adjacent
    blocks, so each left row carries its block id and the successor's
    — two join keys, no range join), and only candidate ids ride the
    verify join.
    """
    keys = {
        "prefix": F.expr(f"substring({_normalized_or_empty('text')}, 1, 24)"),
        "sorted": F.substring(
            F.concat_ws(" ", F.sort_array(tokens("text", lowercase=True))),
            1,
            24,
        ),
    }
    cand = None
    for p in passes:
        pairs = _snm_window_pairs(docs, keys[p], "doc_id", 4)
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()
    # candidate ids feed both verify joins; the hashed shingle sets
    # feed both sides too — materialize each once (round-11 scan audit)
    cand = materialize_once(cand)
    # md5→long shingle hashing via EXPLODE, not an in-row
    # transform(shingles(...), md5) lambda: higher-order lambdas run
    # interpreted (outside whole-stage codegen), and md5-per-element
    # inside one measured 4.1 s vs 1.1 s for the codegen'd
    # explode → project → collect_set shape at sf0.1.  The extra
    # exchange ships (doc, 8-byte hash) pairs only, and the verify
    # join below then ships 8-byte set elements instead of strings.
    sets = materialize_once(_shingle_sets(shingle_hashes(docs, "text", "doc_id", 3), "doc_id"))
    return _verify_jaccard(cand, sets, "doc_id", 0.5).select("doc_a", "doc_b", "jaccard")


def dedup_incremental_jaccard(
    base: DataFrame,
    delta: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT-Jaccard incremental dedup — the third member of the
    incremental family: :func:`dedup_incremental` answers "byte-equal
    to anything accepted?", :func:`dedup_incremental_fuzzy` answers
    "SimHash-close?", this answers "n-gram-Jaccard ≥ t against the
    accepted corpus?" with NO approximation, via the same AllPairs
    prefix filtering as :func:`set_similarity_join_prefix`.

    The prefix order is the BASE corpus's shingle document frequency
    (delta-only shingles get df 0 and sort first — maximally rare by
    the index's knowledge): exactly the posture of a maintained
    inverted index, where the df statistics predate the new batch.
    Prefix-filter completeness holds for ANY consistent total order,
    so exactness is unaffected by the order being base-derived.

    Scale shape: the base ships (id, 8-byte shingle hash) pairs and
    per-doc hashed sets — integers only, independent of text volume;
    candidates are delta-prefix × base-prefix equi-joins (never
    base × base), and each batch touches the base index, not the base
    text.  Returns one row per delta doc: ``doc_id, n_matches
    (distinct base docs with jaccard ≥ t), keep``.
    """
    # both hashed-shingle relations feed the df index, the ordered-set
    # build and the prefix explode — materialize the (id, 8-byte hash)
    # frames once (round-11 scan audit)
    bh, dh = (
        materialize_once(shingle_hashes(d, "text", "doc_id", 3).distinct()) for d in (base, delta)
    )
    dfb = bh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))

    def prefixes(rel: DataFrame, side: str) -> DataFrame:
        withdf = rel.join(dfb, "h", "left").withColumn("df", F.coalesce("df", F.lit(0)))
        return _ordered_sets(withdf, "doc_id").select(
            F.col("doc_id").alias(f"{side}_id"),
            F.col("n_sh").alias(f"{side}_n"),
            F.explode(_prefix(threshold)).alias("ph"),
        )

    cand = (
        prefixes(dh, "d")
        .join(prefixes(bh, "b"), "ph")
        .filter(_lengths_ok("d_n", "b_n", threshold))
        .select("d_id", "b_id")
        .distinct()
    )
    matches = (
        _verify_jaccard(
            cand,
            _shingle_sets(dh, "doc_id"),
            "doc_id",
            threshold,
            ("d_id", "b_id"),
            _shingle_sets(bh, "doc_id"),
        )
        .groupBy("d_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    return (
        delta.select(F.col("doc_id"))
        .join(matches.withColumnRenamed("d_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        )
        .withColumn("keep", F.col("n_matches") == 0)
    )


def simjoin_cosine(docs: DataFrame, threshold: float = 0.3) -> DataFrame:
    """TF-IDF cosine similarity self-join over n-gram SHINGLE features
    — the WEIGHTED counterpart of the Jaccard joins, with Bayardo et
    al.'s (WWW'07) L2 suffix-norm prefix filter for candidate
    generation: EXACT output (every pair with cosine ≥ ``threshold``),
    no df cap, no all-terms inverted-index join.  Shingles, not word
    unigrams, are the feature space: on template-heavy corpora even a
    doc's rarest WORD is corpus-common (measured: unigram prefixes
    produced 11.7M candidates at sf0.1 where shingle prefixes produce
    ~10³), and shingles match the feature space of the Jaccard family
    so thresholds are comparable.

    Candidate completeness: order each doc's terms by ascending
    document frequency (rarest first, h tiebreak — one consistent
    global order).  If the first term two docs share lies OUTSIDE doc
    x's prefix, every shared term is in x's suffix, so
    cos(x,y) ≤ ||suffix(x)|| — therefore keeping each doc's prefix
    until the remaining suffix L2 norm (unit-normalized) drops below
    ``threshold`` guarantees every qualifying pair meets on a
    prefix×prefix term.  At t=0.9 a typical doc's prefix is its 1-3
    RAREST terms — the high-df template/stopword terms that would
    explode an inverted-index join (df ≈ N ⇒ N² pairs) sit in the
    suffix and never become join keys.  The suffix-norm cut uses
    float normalized weights with an epsilon margin — floats only
    ever WIDEN the candidate set; scoring stays exact below.

    Determinism is engineered with integer fixed point: idf is
    quantized to CENTI-units (``round((ln((N+1)/(df+1)) + 1)·100)``
    as int64) and weights are ``tf · idf_q``, so per-doc norms and
    pair dot products are EXACT integer sums — order-independent
    across partitions and bit-identical in a SQL oracle — and the
    cosine is one double division/sqrt at the end (IEEE-identical
    given identical integer inputs), rounded to 6 dp.  (The
    quantization DEFINES the semantics: both engines score with
    centi-idf weights, so parity is exact, not approximate.)

    Scale shape: one tokenize pass → (doc, term-hash, tf) counts with
    the same tf>=1 exchange-reuse guard as tfidf_top_terms; N attaches
    as a broadcast 1-row join; the suffix-norm cut is one window over
    doc-sized partitions; the verify ships each CANDIDATE's (h→w) map
    once and the dot is in-row map_zip_with work (integer sum —
    commutative, so map iteration order is irrelevant).
    """
    counts = (
        shingle_hashes(docs, "text", "doc_id", 3)
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df via a COUNT window over the term partition instead of a
    # separate groupBy + join-back (round 12, guide §2.4): the rows of
    # ``counts`` are unique per (doc, h), so count(*) over (partition
    # by h) IS the document frequency — same integer, one exchange,
    # and ``counts`` collapses to a single consumer, so its round-11
    # checkpoint barrier (one of three) is no longer needed: the
    # tokenize pipeline still runs exactly once, inside the
    # ``weighted`` barrier below, which every downstream branch
    # (norms, prefixes, verify maps) reads as blocks.
    w_df = Window.partitionBy("h")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_q = F.round(
        (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0))
        * F.lit(100.0)
    ).cast("long")
    weighted = (
        counts.withColumn("df", F.count(F.lit(1)).over(w_df))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "h",
            "df",
            (F.col("tf") * idf_q).alias("w"),
        )
    )
    weighted = materialize_once(weighted)
    norms = weighted.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    # prefix cut: reverse-cumulative normalized mass ≥ t² keeps the
    # row in the prefix (descending global order ⇒ the running sum at
    # a row is exactly the suffix norm² from that row to the tail)
    w_suffix = (
        Window.partitionBy("doc_id")
        .orderBy(F.desc("df"), F.desc("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = (
        weighted.join(norms, "doc_id")
        .withColumn(
            "suffix2",
            F.sum((F.col("w") * F.col("w")) / F.col("n2")).over(w_suffix),
        )
        .filter(F.col("suffix2") >= F.lit(threshold * threshold) - F.lit(_EPS))
        .select("doc_id", "h")
    )
    pref = materialize_once(pref)
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    dmaps = weighted.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("h", "w"))).alias("m")
    )
    dot = F.aggregate(
        F.map_values(
            F.map_zip_with(
                "ma",
                "mb",
                lambda k, x, y: F.when(
                    x.isNotNull() & y.isNotNull(), x * y
                ).otherwise(F.lit(0).cast("long")),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        _attach(
            _attach(cand, dmaps, "doc_id", {"m": "ma"}, {"m": "mb"}).withColumn("dot", dot),
            norms,
            "doc_id",
            {"n2": "na2"},
            {"n2": "nb2"},
        )
        .withColumn(
            "cos_sim",
            F.round(
                F.col("dot") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 6
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
    )


def dedup_overlap_matrix(docs: DataFrame) -> DataFrame:
    """Cross-source duplicate overlap matrix: for every source pair
    (a <= b), how many distinct normalized-content digests appear in
    BOTH — the audit that tells you which crawl dumps/mirrors are
    re-serving each other's content before you pay to dedup them
    row-by-row (CommonCrawl dumps overlap 30-60% snapshot-to-snapshot;
    the matrix is what decides which dumps to drop wholesale).

    Scale shape: text collapses to (digest, source) DISTINCT pairs in
    one hash aggregate (digest-only shuffle, never text); per digest
    the source list is domain-bounded (#sources), so the in-row pair
    expansion is |sources|² at worst per digest — never a corpus-sized
    join.  The diagonal (a = b) counts digests with ≥ 1 copy in that
    source, so the matrix is also the per-source distinct-content
    inventory.

    Returns (source_a, source_b, n_shared) for a <= b, ordered.
    """
    ds = (
        docs.select(content_hash("text"), F.col("source").alias("src"))
        .distinct()
    )
    per_digest = ds.groupBy("content_hash").agg(
        F.sort_array(F.collect_set("src")).alias("srcs")
    )
    # in-row a<=b pair expansion over the domain-sized source list
    pairs = per_digest.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda a, i: F.transform(
                        F.slice("srcs", i + 1, F.size("srcs") - i),
                        lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


def simjoin_containment(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram CONTAINMENT similarity pairs — the asymmetric
    companion to :func:`dedup_ngram_jaccard`: containment
    C(A→B) = |A∩B|/|A| finds documents EMBEDDED in larger ones
    (quotes, boilerplate-wrapped reposts, excerpt chains) that Jaccard
    misses outright — a 200-shingle doc fully contained in a
    2000-shingle doc has Jaccard 0.1 but containment 1.0.  The
    standard dedup pass for nested/quoted web text.

    Exactness & shape: identical inverted-index equi-join on the
    shingle as the Jaccard op (docs must share ≥1 shingle — never a
    cross product), with the ``max_shingle_df`` skew cap applied to
    BOTH the join side and the per-doc set sizes, so numerator and
    denominator share the same (rare-shingle) universe — containment
    is then exact OVER THAT UNIVERSE, and a genuinely contained doc
    still reaches 1.0 even when its common shingles were capped away
    (the round-9 advice finding: a join-side-only cap makes the ratio
    an undercount with no ceiling).  Exact BIGINT set sizes, both
    direction ratios as single divisions.  A pair survives if EITHER
    direction reaches the threshold.
    Returns ``(doc_a, doc_b, common, c_a_in_b, c_b_in_a)``.
    """
    # the capped relation feeds the capped-universe sizes and both
    # self-join sides — materialize it too (round-11 scan audit: 8
    # corpus scans)
    sh = materialize_once(_distinct_shingles(docs, "text", "doc_id", n, max_shingle_df)[1])
    scored = _common_shingles(sh, sh, "doc_id").select(
        "doc_a",
        "doc_b",
        "common",
        F.round(
            F.try_divide(F.col("common").cast("double"), F.col("na").cast("double")), 6
        ).alias("c_a_in_b"),
        F.round(
            F.try_divide(F.col("common").cast("double"), F.col("nb").cast("double")), 6
        ).alias("c_b_in_a"),
    )
    return scored.filter(
        (F.col("c_a_in_b") >= threshold) | (F.col("c_b_in_a") >= threshold)
    )
