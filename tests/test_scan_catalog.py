"""``scan()``'s schema catalog must not outlive the file it describes:
a table rewritten in place with another schema, or read under a conf
that changes the inferred types, is inferred again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
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
