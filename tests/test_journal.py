"""The round journal of the iterative graph loops, in the default tier.

``connected_components`` and ``pagerank`` run one loop whether their
round state lives in checkpoints or in a parquet journal
(``journal_dir=``).  Both paths must give identical rows, and a run
whose last round lost its ``_SUCCESS`` marker (a driver killed
mid-write) must redo only that round.  The SIGKILL versions of these
checks are in test_driver_recovery.py and test_pagerank_recovery.py.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
    connected_components,
    pagerank,
)

N = 40  # five 8-node chains, diameter 7


@pytest.fixture(scope="module")
def chains(spark):
    return (
        spark.range(N)
        .filter("id % 8 != 7")
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )


def _rounds(journal, prefix: str) -> list[str]:
    return sorted(glob.glob(os.path.join(str(journal), f"{prefix}_r*")))


def _mtimes(dirs: list[str]) -> dict[str, int]:
    return {
        f: os.stat(f).st_mtime_ns
        for d in dirs
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }


def _redo_last_round(journal, prefix: str, run) -> None:
    """Drop the last round's commit marker and re-run: only that round
    is rewritten, the output is unchanged."""
    before = sorted(run())
    rounds = _rounds(journal, prefix)
    assert all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in rounds)
    earlier = _mtimes(rounds[:-1])
    last = _mtimes(rounds[-1:])
    assert earlier and last
    os.remove(os.path.join(rounds[-1], "_SUCCESS"))
    after = sorted(run())
    assert after == before
    assert _rounds(journal, prefix) == rounds
    assert _mtimes(rounds[:-1]) == earlier
    # rewritten: a new write names its part files after a new job id
    assert os.path.exists(os.path.join(rounds[-1], "_SUCCESS"))
    assert _mtimes(rounds[-1:]).keys().isdisjoint(last)


def test_connected_components_journal(spark, chains, tmp_path):
    want = sorted(connected_components(chains).collect())
    assert len(want) == N
    assert all(r["cluster_id"] == r["doc_id"] - r["doc_id"] % 8 for r in want)

    journal = tmp_path / "cc"
    run = lambda: connected_components(chains, journal_dir=str(journal)).collect()  # noqa: E731
    assert sorted(run()) == want
    # r0000 is the initial labels; 7 propagation rounds + 1 that sees no change
    assert [os.path.basename(d) for d in _rounds(journal, "labels")] == [
        f"labels_r{i:04d}" for i in range(9)
    ]
    assert os.path.exists(journal / "edges" / "_SUCCESS")
    _redo_last_round(journal, "labels", run)


def test_pagerank_journal(spark, chains, tmp_path):
    # 6 rounds: the in-memory path cuts its lineage once (round 5)
    want = sorted(pagerank(chains, iters=6).collect())
    assert len(want) == N

    journal = tmp_path / "pr"
    run = lambda: pagerank(chains, iters=6, journal_dir=str(journal)).collect()  # noqa: E731
    assert sorted(run()) == want
    assert len(_rounds(journal, "ranks")) == 7
    _redo_last_round(journal, "ranks", run)
