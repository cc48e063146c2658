"""``scan()``'s schema catalog must not outlive the file it describes:
a table rewritten in place with another schema, or read under a conf
that changes the inferred types, is inferred again.  A conf that
changes only how a file is read under a given schema needs no place
in the key."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan


def test_rewritten_table_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    spark.range(2, 3).select(
        F.col("id").alias("o_orderkey"), F.lit("first").alias("o_note")
    ).write.mode("overwrite").parquet(path)
    assert scan(spark, sf, "orders").columns == ["o_orderkey", "o_note"]

    spark.range(2, 3).select(
        F.col("id").alias("o_orderkey"), F.lit(7.5).alias("o_totalprice")
    ).write.mode("overwrite").parquet(path)
    rows = scan(spark, sf, "orders").collect()
    assert [r.asDict() for r in rows] == [{"o_orderkey": 2, "o_totalprice": 7.5}]


def test_binary_as_string_is_part_of_the_key(spark, tmp_path):
    # written outside Spark: a Spark-written file carries its own schema
    # in the footer metadata, which overrides binaryAsString
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"doc_id": [1], "text": pa.array([b"abc"], pa.binary())}),
        f"{sf}/documents.parquet",
    )
    assert dict(scan(spark, sf, "documents").dtypes)["text"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        docs = scan(spark, sf, "documents")
        assert dict(docs.dtypes)["text"] == "string"
        assert docs.collect()[0].text == "abc"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")



def _outcome(read):
    """A read's rows, or the class of the error it raised."""
    try:
        return sorted(map(tuple, read().collect()))
    except PySparkException as e:
        return type(e).__name__


_DAY = datetime.datetime(1000, 1, 1, 12)


@pytest.mark.parametrize(
    "conf, values, table, int96",
    [
        # the rebase modes decide the values read from a file that lacks
        # Spark's calendar metadata, not the types inferred for it
        (
            "spark.sql.parquet.datetimeRebaseModeInRead",
            ("CORRECTED", "LEGACY", "EXCEPTION"),
            {"o_orderkey": [1], "o_orderdate": pa.array([_DAY.date()], pa.date32())},
            False,
        ),
        (
            "spark.sql.parquet.int96RebaseModeInRead",
            ("CORRECTED", "LEGACY", "EXCEPTION"),
            {"o_orderkey": [1], "o_ts": pa.array([_DAY], pa.timestamp("us"))},
            True,
        ),
        # case sensitivity decides whether ``a`` and ``A`` collide
        ("spark.sql.caseSensitive", ("true", "false"), {"a": [2], "A": [3]}, False),
    ],
    ids=["datetime_rebase", "int96_rebase", "case_sensitive"],
)
def test_conf_outside_the_key_reads_like_an_uncached_scan(
    spark, tmp_path, conf, values, table, int96
):
    """The schema key leaves these confs out because none of them changes
    the inferred StructType: under each value a catalog hit reads what
    ``spark.read.parquet`` reads.  The first value primes the catalog;
    every later one reads through the cached StructType."""
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    # written outside Spark, so no footer metadata overrides the confs
    pq.write_table(pa.table(table), path, use_deprecated_int96_timestamps=int96)
    seen = []
    try:
        for value in values:
            spark.conf.set(conf, value)
            got = _outcome(lambda: scan(spark, sf, "orders"))
            assert got == _outcome(lambda: spark.read.parquet(path)), f"{conf}={value}"
            seen.append(repr(got))
    finally:
        spark.conf.unset(conf)
    # each conf does change the read here, so the check above has teeth
    assert len(set(seen)) == len(values), seen
