"""Driver-crash recovery for batch iterative loops — the Spark analog
of the reference's master-replica recovery (master/recovery.go:222-273:
a replica replays the dead master's persisted state and resumes), which
round-5 review called out as the one reference subsystem without a
demonstrated engine counterpart.

A subprocess driver runs the journaled connected-components loop
(``connected_components(..., journal_dir=...)``) over the SAME near-dup candidate
edges ``dedup_clusters`` uses, gets SIGKILLed mid-loop, and a FRESH
driver process pointed at the same journal must (a) resume from the
last committed round instead of round 0 and (b) produce labels
identical to an uninterrupted run.
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import textwrap
import time

import pytest

pytestmark = [pytest.mark.slow, pytest.mark.chaos]

# The driver script: chain components of 8 nodes (diameter 7 — enough
# propagation rounds that the kill lands mid-loop), PLUS the real
# dedup_clusters edge shape is covered by the parity test below.
SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, ".")
    from pyspark.sql import SparkSession, functions as F
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
        connected_components,
    )

    journal = sys.argv[1]
    spark = (
        SparkSession.builder.master("local[4]").appName("driver-recovery")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    N = 40000
    edges = (
        spark.range(N).filter("id % 8 != 7")
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    labels = connected_components(edges, max_iter=15, journal_dir=journal).collect()
    assert len(labels) == N, len(labels)
    bad = [r for r in labels if r["cluster_id"] != r["doc_id"] - r["doc_id"] % 8]
    assert not bad, bad[:3]
    print("DRIVER_RECOVERY_OK", len(labels))
    """
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _committed_rounds(journal: str) -> list[str]:
    return sorted(
        d
        for d in glob.glob(os.path.join(journal, "labels_r*"))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    )


def test_driver_killed_mid_loop_resumes_from_journal():
    journal = tempfile.mkdtemp(prefix="sparkgraft_journal_")
    try:
        # attempt 1: SIGKILL the driver once it has committed >= 1
        # propagation round (poll the journal from outside — exactly
        # what a supervisor/replica would watch)
        p = subprocess.Popen(
            [sys.executable, "-c", SCRIPT, journal],
            cwd=REPO,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        deadline = time.time() + 180
        while time.time() < deadline:
            done = _committed_rounds(journal)
            # r0000 is init; require >= 2 committed propagation rounds
            # so the kill provably lands mid-loop, not before it
            if len(done) >= 3:
                break
            if p.poll() is not None:
                raise AssertionError("driver finished before the kill fired")
            time.sleep(0.2)
        os.kill(p.pid, signal.SIGKILL)
        p.wait()
        rounds_at_kill = _committed_rounds(journal)
        assert len(rounds_at_kill) >= 3, "kill fired before any round committed"
        mtimes_at_kill = {
            f: os.path.getmtime(f)
            for d in rounds_at_kill
            for f in glob.glob(os.path.join(d, "*.parquet"))
        }

        # attempt 2 (the replica): fresh process, same journal — must
        # complete, reusing the committed prefix
        out = subprocess.run(
            [sys.executable, "-c", SCRIPT, journal],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert "DRIVER_RECOVERY_OK 40000" in out.stdout, out.stdout + out.stderr

        # the committed prefix was REUSED, not recomputed: every part
        # file present at kill time still has its original mtime (a
        # mode-overwrite recompute would have replaced them)
        for f, mt in mtimes_at_kill.items():
            assert os.path.getmtime(f) == mt, f"recomputed committed round: {f}"
        final = _committed_rounds(journal)
        assert len(final) >= len(rounds_at_kill)
    finally:
        shutil.rmtree(journal, ignore_errors=True)


def test_resumable_matches_plain_cc_on_dedup_clusters_edges(spark, sf_dir):
    """Parity on the REAL dedup_clusters input: the journaled loop must
    produce exactly the labels of the in-memory loop over the same
    MinHash-LSH candidate pairs."""
    from mapreduce_faultolerrant_localityaware_spark.operators import dedup
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
        connected_components,
    )
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    pairs = dedup.dedup_minhash_candidates(scan(spark, sf_dir, "documents"))
    journal = tempfile.mkdtemp(prefix="sparkgraft_journal_parity_")
    try:
        plain = {
            (r["doc_id"], r["cluster_id"]) for r in connected_components(pairs).collect()
        }
        resumed = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(pairs, journal_dir=journal).collect()
        }
        assert plain == resumed
        # and a SECOND call over the finished journal is a pure replay:
        # returns instantly-identical labels without adding rounds
        n_rounds = len(_committed_rounds(journal))
        again = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(pairs, journal_dir=journal).collect()
        }
        assert again == plain
        assert len(_committed_rounds(journal)) == n_rounds
    finally:
        shutil.rmtree(journal, ignore_errors=True)
