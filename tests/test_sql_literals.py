"""Values and identifiers spliced into SQL text at construction time
must either round-trip exactly or fail loudly: an int32 literal array
never turns an out-of-range value into a NULL element, and an
embedding column name may contain backticks or braces."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_faultolerrant_localityaware_spark.functions.vectors import lit_int_array
from mapreduce_faultolerrant_localityaware_spark.operators.similarity import (
    embedding_dim_stats,
)


@pytest.mark.parametrize("value", [2**31, -(2**31) - 1, 10**12])
def test_lit_int_array_rejects_out_of_range(value):
    with pytest.raises(ValueError, match="int32"):
        lit_int_array([1, value])


def test_lit_int_array_keeps_int32_bounds(spark):
    got = spark.range(1).select(lit_int_array([-(2**31), 2**31 - 1]).alias("a")).first()["a"]
    assert got == [-(2**31), 2**31 - 1]


@pytest.mark.parametrize("name", ["emb`x", "e{m}b"])
def test_embedding_column_name_is_escaped(spark, name):
    rows = [(1, [1.0, -2.0]), (2, [3.0, -2.0]), (3, [5.0, -2.0])]
    plain = spark.createDataFrame(rows, ["vec_id", "embedding"])
    odd = plain.withColumnRenamed("embedding", name)
    want = embedding_dim_stats(plain, dim=2).orderBy("dim").collect()
    got = embedding_dim_stats(odd, vec_col=name, dim=2).orderBy("dim").collect()
    assert got == want
