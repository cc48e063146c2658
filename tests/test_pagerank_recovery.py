"""Driver-crash recovery for the journaled PageRank loop — extends the
master-replica recovery posture (reference master/recovery.go:222-273:
the replica replays ALL persisted phase state) beyond connected
components to the second iterative operator, per round-6 review item 7.

A subprocess driver runs ``pagerank(..., journal_dir=...)``, is SIGKILLed after at
least two committed power-iteration rounds, and a FRESH driver pointed
at the same journal must (a) reuse the committed prefix (no recompute)
and (b) finish with ranks BIT-identical to an uninterrupted
``pagerank`` run — the integer fixed-point arithmetic makes that an
exact equality, not a tolerance check.
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

# chain graph + enough iterations that the kill provably lands mid-loop
SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, ".")
    from pyspark.sql import SparkSession, functions as F
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
        pagerank,
    )

    journal = sys.argv[1]
    spark = (
        SparkSession.builder.master("local[4]").appName("pagerank-recovery")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    N = 30000
    edges = (
        spark.range(N).filter("id % 8 != 7")
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    got = pagerank(edges, iters=10, journal_dir=journal).collect()
    want = pagerank(edges, iters=10).collect()
    gm = {r["node"]: (r["rank_micro"], r["pr"]) for r in got}
    wm = {r["node"]: (r["rank_micro"], r["pr"]) for r in want}
    assert gm == wm, "resumable ranks diverge from plain pagerank"
    print("PAGERANK_RECOVERY_OK", len(got))
    """
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _committed_rounds(journal: str) -> list[str]:
    return sorted(
        d
        for d in glob.glob(os.path.join(journal, "ranks_r*"))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    )


def test_pagerank_driver_killed_mid_loop_resumes_from_journal():
    journal = tempfile.mkdtemp(prefix="sparkgraft_pr_journal_")
    try:
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
            # r0000 is init; require >= 2 committed power rounds so the
            # kill provably lands mid-loop
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

        # the replica: fresh process, same journal — must complete with
        # ranks identical to plain pagerank, reusing the prefix
        out = subprocess.run(
            [sys.executable, "-c", SCRIPT, journal],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert "PAGERANK_RECOVERY_OK 30000" in out.stdout, out.stdout + out.stderr

        # committed prefix reused, not recomputed
        for f, mt in mtimes_at_kill.items():
            assert os.path.getmtime(f) == mt, f"recomputed committed round: {f}"
    finally:
        shutil.rmtree(journal, ignore_errors=True)


def test_pagerank_resumable_matches_plain_on_dedup_edges(spark, sf_dir):
    """Parity on the REAL near-dup candidate edges, plus pure-replay
    semantics over a finished journal."""
    from mapreduce_faultolerrant_localityaware_spark.operators import dedup
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
        pagerank,
    )
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    pairs = dedup.dedup_minhash_candidates(scan(spark, sf_dir, "documents"))
    journal = tempfile.mkdtemp(prefix="sparkgraft_pr_parity_")
    try:
        plain = {
            r["node"]: (r["rank_micro"], r["pr"])
            for r in pagerank(pairs, iters=5).collect()
        }
        resumed = {
            r["node"]: (r["rank_micro"], r["pr"])
            for r in pagerank(pairs, iters=5, journal_dir=journal).collect()
        }
        assert plain == resumed
        n_rounds = len(_committed_rounds(journal))
        again = {
            r["node"]: (r["rank_micro"], r["pr"])
            for r in pagerank(pairs, iters=5, journal_dir=journal).collect()
        }
        assert again == plain
        assert len(_committed_rounds(journal)) == n_rounds
    finally:
        shutil.rmtree(journal, ignore_errors=True)
