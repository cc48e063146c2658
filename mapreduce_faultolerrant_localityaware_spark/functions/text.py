"""Text column expressions — tokenizer, shingles, quality signals.

Tokenizer parity (SURVEY Q2, the canonical query semantic of the
reference): the reference splits chunk text on runs of any non-letter
rune, Unicode letter class, case-SENSITIVE, empty tokens dropped
(core/map_reduce.go:543-546 ``unicode.IsLetter`` FieldsFunc).  So
``don't`` → ``don``, ``t``; digits are separators (``2nd`` → ``nd``);
``He`` ≠ ``he``; accented letters (``è``, ``più``) are kept.  The JVM
regex ``[^\\p{L}]+`` reproduces Go's ``unicode.IsLetter`` class for
the practical character inventory (both implement Unicode L*).
Nuance (found by the hypothesis property test): Python's ``[^\\W\\d_]``
is NOT an exact oracle — it over-matches Nl/No number-letters
(``²``, ``Ⅻ``, U+10CFA) that both Go IsLetter and ``\\p{L}`` reject;
the exact oracle walks ``unicodedata.category(c)[0] == 'L'``
(tests/test_property.py::_py_tokens).

All expressions here are built-in pyspark.sql.functions compositions —
JVM-side, whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: split rule — runs of non-letters (Unicode letter class), SURVEY Q2.
TOKEN_SPLIT_RE = r"[^\p{L}]+"
#: the same rule as a SQL string literal body (backslashes escaped)
_TOKEN_SPLIT_SQL = TOKEN_SPLIT_RE.replace("\\", "\\\\")

# Tiny deterministic stopword lists for the language-ID / quality
# heuristics.  Chosen to be unambiguous between English and Italian on
# the synthetic corpus; heuristic quality, not linguistic completeness.
EN_STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "with", "for", "was")
IT_STOPWORDS = ("il", "la", "di", "che", "e", "un", "per", "con", "del", "una")


def _quoted(col: str) -> str:
    """``col`` as a backtick-quoted SQL identifier, so a name with a
    space, a backtick or a reserved word still parses."""
    return "`" + col.replace("`", "``") + "`"


def tokens(col: str, lowercase: bool = False) -> Column:
    """Array of word tokens of column ``col`` under reference semantics
    (Q2): split on non-letter runs, drop empties, preserve case by
    default.  One SQL parse (the Column-API form costs ~55 more py4j
    calls per use and builds the identical expression)."""
    c = f"lower({_quoted(col)})" if lowercase else _quoted(col)
    return F.expr(f"filter(split({c}, '{_TOKEN_SPLIT_SQL}'), x -> x != '')")


def words(col: Column) -> Column:
    """Whitespace-separated words of ``col`` (the usual LLM-data word
    proxy), empties dropped."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != F.lit(""))


def lines(col: Column) -> Column:
    """The non-blank lines of ``col``."""
    return F.filter(F.split(col, "\n"), lambda l: F.trim(l) != F.lit(""))


def normalized_sql(col: str) -> str:
    """SQL for :func:`normalized_text` of column ``col`` (backtick-quoted)."""
    return rf"trim(regexp_replace(lower({_quoted(col)}), '\\s+', ' '))"


def normalized_text(col: str) -> Column:
    """Canonical form used for exact-dedup / fingerprinting: lowercase,
    collapse whitespace runs, trim (one SQL parse)."""
    return F.expr(normalized_sql(col))


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (join with single space).

    Built on higher-order array functions — stays JVM-side.  Returns
    an empty array for docs shorter than ``n`` tokens.
    """
    # NB: F.sequence(0, -1) yields a DESCENDING sequence, not empty —
    # guard short docs explicitly.
    idx = F.sequence(F.lit(1), F.size(tokens_col) - n + 1)
    arr = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens_col, i, n)))
    return F.when(F.size(tokens_col) >= n, arr).otherwise(F.array().cast("array<string>"))


def stopword_hits(tokens_col: Column, stopwords: tuple[str, ...]) -> Column:
    """Count of tokens (lowercased) that are in ``stopwords``."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens_col, lambda t: F.array_contains(sw, F.lower(t))))


#: query params dropped by URL canonicalization — click-tracking ids
#: that vary per visit without changing the resource.
TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|ref)="


def canonical_url(col: Column | str) -> Column:
    """Crawl-frontier URL canonicalization, entirely JVM-side
    (``parse_url`` + array expressions — no Python, codegen'd):

      * scheme and host lowercased; leading ``www.`` stripped
      * port dropped (``parse_url(..., 'HOST')`` is port-less; the
        engine's contract is default-port URLs — a crawler that must
        preserve exotic ports would canonicalize AUTHORITY instead)
      * fragment dropped; ONE trailing slash stripped from the path
      * tracking params (``utm_*``, ``fbclid``, ``gclid``, ``ref``)
        dropped; surviving params sorted byte-wise and rejoined, so
        ``?b=2&a=1`` and ``?a=1&b=2`` collide

    The scheme is PRESERVED (http ≠ https): scheme-folding merges
    distinct resources on servers that serve different content per
    scheme; callers who want it can lower upstream.

    Dedup-by-URL is the cheapest dedup in a crawl pipeline — a pure
    map expression followed by a hash groupBy, no text ever shuffled.
    """
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.parse_url(u, F.lit("HOST"))), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit("")), r"/$", ""
    )
    q = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda p: (p != F.lit(""))
                & ~p.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
