"""Incremental IVF maintenance: assign-only ingest against the
persisted quantizer, recall of the merged index, and drift-report
accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import similarity
from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan


def _split(spark, sf_dir):
    emb = scan(spark, sf_dir, "embeddings")
    return (
        emb,
        emb.filter(F.col("vec_id") % 10 != 0),
        emb.filter(F.col("vec_id") % 10 == 0),
    )


def test_base_assignments_stable_under_ingest(spark, sf_dir):
    """The contract that makes ingest O(batch): the quantizer is fitted
    on the base corpus ONLY, so ingesting a batch never moves a base
    vector's cell — identical to the pre-ingest index assignment."""
    _, base, fresh = _split(spark, sf_dir)
    cents = similarity.kmeans_fit(base, k=10, max_iter=4)
    before = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells(base, cents).collect()
    }
    # the merged index as ann_incremental builds it
    merged = similarity.assign_cells(base, cents).unionByName(
        similarity.assign_cells(fresh, cents)
    )
    after = {r["vec_id"]: r["cell"] for r in merged.collect()}
    assert all(after[v] == c for v, c in before.items())
    # and the batch really was ingested
    assert len(after) == len(before) + fresh.count()


def test_ann_incremental_recall_vs_bruteforce_merged(spark, sf_dir):
    """recall@5 >= 0.9 vs brute force over the MERGED corpus (same
    isotropic-embedding caveat as test_ann_kmeans: nprobe must be a
    large share of n_cells on unclustered synthetic data)."""
    emb, base, fresh = _split(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.ann_bruteforce(emb, queries, k=5).collect()
    approx = similarity.ann_incremental(
        base, fresh, queries, n_cells=8, nprobe=6
    ).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    found = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, recall


def test_drift_report_accounting(spark, sf_dir):
    """Counts conserve both sides; shares sum to 1; drift sums to ~0
    (Σshare_new − Σshare_corpus); works over fitted cells too (the
    ann_incremental plumbing, not just the precomputed labels)."""
    _, base, fresh = _split(spark, sf_dir)
    cents = similarity.kmeans_fit(base, k=8, max_iter=4)
    rep = similarity.index_drift_report(
        similarity.assign_cells(base, cents),
        similarity.assign_cells(fresh, cents),
        cell_col="cell",
    ).collect()
    assert sum(r["n_corpus"] for r in rep) == base.count()
    assert sum(r["n_new"] for r in rep) == fresh.count()
    assert abs(sum(r["share_corpus"] for r in rep) - 1.0) < 1e-4
    assert abs(sum(r["share_new"] for r in rep) - 1.0) < 1e-4
    assert abs(sum(r["drift"] for r in rep)) < 1e-4


def test_drift_report_one_sided_cells(spark):
    """A cell present only in the batch (or only in the corpus) must
    still appear, with zero on the absent side."""
    c = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, cell string")
    n = spark.createDataFrame([(9, "b"), (10, "z")], "id long, cell string")
    rep = {r["cell"]: r for r in similarity.index_drift_report(c, n).collect()}
    assert set(rep) == {"a", "b", "z"}
    assert (rep["a"]["n_corpus"], rep["a"]["n_new"]) == (2, 0)
    assert (rep["z"]["n_corpus"], rep["z"]["n_new"]) == (0, 1)
    assert rep["z"]["share_corpus"] == 0.0 and rep["z"]["share_new"] == 0.5
