"""Vector column expressions over ``array<float>`` embedding columns.

Built-in higher-order functions (F.zip_with + F.aggregate) keep the
arithmetic JVM-side — no Python UDF in the hot path.  Everything is
cast to double first so results are bit-reproducible against a
double-precision oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(col: Column) -> Column:
    return col.cast("array<double>")


def _sql_double(x: float) -> str:
    """SQL double literal that parses back to EXACTLY ``x``: python
    ``repr`` emits the shortest round-trip decimal and Spark's parser
    (Java ``Double.parseDouble``) is correctly rounded, so the
    round-trip is identity — verified for subnormals, ±0.0 and
    DBL_MAX.  The ``D`` suffix forces DoubleType (a bare decimal
    literal is DECIMAL in Spark SQL).  Non-finite values need the
    string-cast form — ``repr(nan)+'D'`` would parse as an unresolved
    column ``nanD`` and die with a misleading analysis error (ADVICE
    r11); ``CAST('NaN'/'Infinity' AS DOUBLE)`` is how Spark SQL spells
    them, matching what ``F.lit`` accepted before the expr rewrite."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def lit_double_array(values) -> Column:
    """Literal ``array<double>`` built with ONE py4j call via
    ``F.expr`` instead of len(values) ``F.lit`` round-trips.

    Round-11 optimization pass: every model-constant table inlined as
    literals (SRP hyperplanes, k-means codebooks, PQ sub-codebooks /
    norm tables, SQ8 grids) was paying ~2–4 ms of py4j per element at
    query CONSTRUCTION — a 64×16 plane matrix alone cost 3.9 s to
    build, dominating its query's wall time.  The expr string parses
    JVM-side in milliseconds and yields the identical literal tree."""
    return F.expr("array(" + ",".join(_sql_double(v) for v in values) + ")")


def lit_double_matrix(rows) -> Column:
    """Literal ``array<array<double>>`` (see :func:`lit_double_array`)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_sql_double(v) for v in r) + ")" for r in rows
        )
        + ")"
    )


def lit_double_cube(cubes) -> Column:
    """Literal ``array<array<array<double>>>`` — the PQ sub-codebook
    shape (m × n_codes × ds), one py4j call."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(_sql_double(v) for v in r) + ")" for r in m
            )
            + ")"
            for m in cubes
        )
        + ")"
    )


def lit_int_array(values) -> Column:
    """Literal ``array<int>`` with one py4j call.  Values are cast
    from STRING like :func:`lit_long_array` — a bare ``-2147483648``
    parses as unary-minus over a BIGINT literal and would silently
    widen the whole array to ``array<bigint>`` (ADVICE r11); the
    string cast keeps INT_MIN an INT.  A value outside int32 range
    raises ``ValueError`` here: the cast would turn it into a NULL
    element."""
    ints = [int(v) for v in values]
    bad = [v for v in ints if not -(2**31) <= v <= 2**31 - 1]
    if bad:
        raise ValueError(f"lit_int_array: {bad[:3]} outside the int32 range")
    return F.expr(
        "cast(array(" + ",".join(f"'{v}'" for v in ints) + ") as array<int>)"
    )


def lit_long_array(values) -> Column:
    """Literal ``array<bigint>`` with one py4j call.  Values are cast
    from STRING (``CAST('-9223372036854775808' AS BIGINT)`` shape via
    array<string> cast) so LONG_MIN — whose bare literal would parse
    as unary-minus of an overflowing positive — round-trips exactly."""
    return F.expr(
        "cast(array(" + ",".join(f"'{int(v)}'" for v in values) + ") as array<bigint>)"
    )


def agg_array_expr(per_term_sql: str, dim: int) -> Column:
    """``array(f(1), …, f(dim))`` of per-dimension AGGREGATE terms,
    parsed JVM-side in ONE ``F.expr`` call.  ``per_term_sql`` is a SQL
    template with ``{i}`` the 1-based element index, e.g.
    ``"sum(CAST(round(element_at(__v, {i}) * 1e6) AS BIGINT))"``.
    ``{i}`` is the only placeholder allowed: the template goes through
    ``str.format``, so any other brace must be doubled (``{{``/``}}``),
    and identifiers spliced into it must already be backtick-quoted
    and escaped.

    Round-12 (guide §7.3 driver-cost class, the lit_* sibling for
    aggregates): the embedding fits built their packed per-dimension
    aggregate arrays with ``F.array(*[F.sum(expr(i)) …])`` — ~4·dim
    py4j round-trips per fit (~0.2–0.4 s at d=64) before the query
    ever ran.  The parsed tree is the same Round/Cast/Sum expression
    the Column API builds, so plans and values are unchanged."""
    return F.expr(
        "array(" + ",".join(per_term_sql.format(i=i + 1) for i in range(dim)) + ")"
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product, index-order summation (deterministic)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO) when either vector has zero
    norm — cosine is undefined there, and a degenerate row (an
    all-zeros embedding from a failed encoder) must not crash a
    corpus-scale scoring pass (degenerate-surface sweep, r9)."""
    return F.try_divide(dot(a, b), F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0)))
