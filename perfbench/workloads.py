"""Workload definitions: which inputs each workload generates, which
queries one pass runs, and how each query's output is materialized.

A pass runs every query of the workload once, one at a time (a closed
loop with one client), in an order the seed permutes per pass (all
but the cold pass).  Each
query is two calls, timed apart by the traced run:

* construct — the query function (``queries()[name](spark, data_dir)``,
  or ``operators.wordcount.wordcount`` for the reference pipeline);
* execute — the sink: ``sources.sinks.write_tokens`` for the reference
  word count, Spark's ``noop`` writer for every other query.
"""

from __future__ import annotations

import contextlib
import os
import random

#: input sets: the corpus is generated once per seed and cached; the
#: sf0.01 tables are copies of the two engine test tables that
#: ``construct_heavy`` reads, kept under ``perfbench/data``
DATA = {
    "corpus": {"kind": "corpus", "n_docs": 3000, "vocab": 100_000},
    "sf0.01": {"kind": "fixed", "dir": "sf0.01"},
}

#: warm passes still speed up from one to the next (JIT), so the warm
#: figure is the median of the first WARM_PASSES warm passes, whatever
#: number of them the host fits into ``--seconds``
WARM_PASSES = 3

WORKLOADS = {
    "wordcount_corpus": {
        "data": "corpus",
        "queries": ["wordcount", "text_entropy", "tokens_to_ids"],
    },
    "construct_heavy": {
        "data": "sf0.01",
        "queries": ["roc_auc", "kruskal_wallis"],
    },
}


def pass_orders(name: str, seed: int, n_passes: int) -> list[list[str]]:
    """Query order of each pass.  Pass 0 (the cold pass, whose time
    depends on which query pays for the JVM's warm-up) keeps the listed
    order; the seed permutes every later pass."""
    rng = random.Random(f"{name}:{seed}")
    out = [list(WORKLOADS[name]["queries"])]
    for _ in range(n_passes - 1):
        qs = list(WORKLOADS[name]["queries"])
        rng.shuffle(qs)
        out.append(qs)
    return out


class Runner:
    """Builds and executes one workload's queries in a live session."""

    def __init__(self, spark, data_dir: str, sink: str, span=None):
        import __spark_entry__ as entry

        self.span = span or (lambda *a, **k: contextlib.nullcontext())
        self.spark = spark
        self.data_dir = data_dir
        self.sink = sink  # the word count's output directory
        self.queries = entry.queries()

    def construct(self, name: str):
        if name == "wordcount":
            from mapreduce_faultolerrant_localityaware_spark.operators import wordcount

            txt = os.path.join(self.data_dir, "txt")
            paths = sorted(os.path.join(txt, f) for f in os.listdir(txt))
            return wordcount.wordcount(self.spark, paths, sort=True)
        return self.queries[name](self.spark, self.data_dir)

    def execute(self, name: str, df) -> None:
        if name == "wordcount":
            from mapreduce_faultolerrant_localityaware_spark.sources import sinks

            sinks.write_tokens(df, self.sink)
        else:
            with self.span("sink", kind="noop"):
                df.write.format("noop").mode("overwrite").save()
