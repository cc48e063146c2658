"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference MapReduce engine
(andreadiiorio/mapreduce_faultolerrant_localityaware), re-expressed Spark-first.

The reference (see SURVEY.md) is a fault-tolerant, locality-aware
single-job MapReduce word-count engine (Go, master/worker RPC, S3
chunk storage).  Everything it hand-rolls — chunked scan, flatMap
tokenize, two-level map-side combine, hash partition, shuffle,
locality-aware reduce placement, final aggregation, sort, sink,
worker/master fault tolerance — is a built-in of Spark.  This package
therefore exposes the reference's *query semantics* (scan → tokenize /
project / filter → group-aggregate → sort → limit → sink) as
idiomatic DataFrame operators, Spark's own calls wherever one call
does the job, and delegates execution, shuffle, AQE and recovery to
Spark wholesale.

Layout:
  session        SparkSession factory (AQE on, sane local defaults)
  sources        scans (parquet tables, text corpora) and sinks
                 (``word->count`` token files — reference format)
  functions      reusable column expressions (tokenizer, shingles,
                 hashes, vector math, text-quality signals)
  operators      the operator surface: relational core, wordcount,
                 dedup (exact / MinHash-LSH / SimHash / n-gram
                 Jaccard / embedding), similarity search, text
                 analysis, multimodal plumbing
  plans          plan-introspection helpers (pushdown / broadcast /
                 codegen assertions used by tests)
  streaming      Structured Streaming variants (streaming word count)
"""

__version__ = "0.1.0"
