"""Word count — the reference's one end-to-end query (its entire O1→O13
pipeline, SURVEY §3.1), expressed as a single declarative plan.

Reference pipeline → Spark physical plan:
  InitChunks / S3 chunk pull (core/utils.go:283-343,
    core/map_reduce.go:23-77)                → FileScan (split planning)
  Map_parse_builtin_quick_route tokenize
    (core/map_reduce.go:523-561)             → explode(split(...)) [codegen]
  per-chunk combiner (core/map_reduce.go:548-550)
  + worker-level combiner
    (core/workerStruct.go:254-293)           → partial HashAggregate (automatic)
  HashKeyReducerSum partition + RPC shuffle
    (core/utils.go:353-363,
     core/map_reduce.go:442-520)             → shuffle exchange (proper hash —
                                               the reference's hash is
                                               length-only, SURVEY Q1; not
                                               replicated on purpose)
  Reduce final sum (core/map_reduce.go:150-216) → final HashAggregate
  master collect + sort desc
    (core/map_reduce.go:619-635,
     master/main.go:285-302)                 → Sort [+ optional limit/sink]

The two-level combining the reference implements by hand is Spark's
partial aggregation — visible in .explain() as HashAggregate(partial)
before the Exchange.  Ties in the sort are broken by word ASC for
determinism (SURVEY Q4: the reference's tie order is Go-map random).

The map side and the combine are the engine's shared token stages,
written once here: ``token_rows`` (one row per token, keeping some
columns) and ``token_counts`` (the map-side-combined count of those
rows per key).  Every token statistic — tf-idf, entropy, Zipf and
Heaps fits, BPE vocabularies, sketches, KL/JS divergence, the
streaming word count — is this word count keyed by more columns, and
calls them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ._parallel import ensure_parallelism


def token_rows(
    df: DataFrame, text_col: str, *keep: Column | str, lowercase: bool = False, token: str = "token"
) -> DataFrame:
    """``(*keep, token)``: one row per token of ``text_col`` (the
    tokenize + explode map side), carrying the ``keep`` columns."""
    return df.select(*keep, F.explode(tokens(text_col, lowercase)).alias(token))


def token_counts(
    df: DataFrame, text_col: str, *keys: str, lowercase: bool = False, token: str = "token", n: str = "n"
) -> DataFrame:
    """``(*keys, token, n)``: occurrences of each token per ``keys``
    group — partial-aggregated before the shuffle, so a hot token
    crosses the exchange once per partition, not once per occurrence."""
    return (
        token_rows(df, text_col, *keys, lowercase=lowercase, token=token)
        .groupBy(*keys, token)
        .agg(F.count(F.lit(1)).alias(n))
    )


def wordcount_from_text(text_df: DataFrame, text_col: str = "value", sort: bool = True) -> DataFrame:
    """``DataFrame[..., text_col]`` → ``DataFrame[word, count]``.

    ``sort=True`` mirrors SORT_FINAL (configurations/config.json:3).
    """
    out = token_counts(ensure_parallelism(text_df), text_col, token="word", n="count")
    if sort:
        out = out.orderBy(F.desc("count"), F.asc("word"))
    return out


def wordcount(spark, paths: str | list[str], sort: bool = True) -> DataFrame:
    """End-to-end reference query: text files → sorted word counts."""
    from ..sources.scans import scan_text

    return wordcount_from_text(scan_text(spark, paths), "value", sort=sort)


def wordcount_rdd(text_df: DataFrame) -> DataFrame:
    """RDD formulation mirroring the reference's explicit two-level
    combine, for parity demonstration (the DataFrame plan above is the
    production path — Catalyst plans the identical shape automatically):

      per-chunk hashmap combiner (core/map_reduce.go:548-550)
          → mapPartitions(Counter)
      worker-level re-aggregation + hash-partitioned RPC shuffle
        (core/workerStruct.go:254-293, core/utils.go:353-363)
          → reduceByKey (map-side combine + hash-partitioned exchange)
      reducer accumulation (core/map_reduce.go:187-189)
          → reduceByKey merge side

    Tokenization is runs of Unicode category-L characters (exactly Go
    unicode.IsLetter / the DataFrame path's \\p{L}) — NOT the Python
    regex ``[^\\W\\d_]``, which over-matches Nl/No number-letters
    ('²', 'Ⅻ'); see functions/text.py.
    """
    import unicodedata
    from collections import Counter

    from pyspark.sql import types as T

    def _tokens(text):
        out, cur = [], []
        for ch in text:
            if unicodedata.category(ch).startswith("L"):
                cur.append(ch)
            elif cur:
                out.append("".join(cur))
                cur = []
        if cur:
            out.append("".join(cur))
        return out

    def combine_partition(rows):
        # level-1 combiner: one hashmap per input partition ("chunk")
        counts = Counter()
        for row in rows:
            text = row[0]
            if text:
                counts.update(_tokens(text))
        return iter(counts.items())

    counted = (
        text_df.select("value")
        .rdd.mapPartitions(combine_partition)
        .reduceByKey(lambda a, b: a + b)  # level-2 combine + final sum
    )
    schema = T.StructType(
        [T.StructField("word", T.StringType()), T.StructField("count", T.LongType())]
    )
    return text_df.sparkSession.createDataFrame(counted, schema)
