"""SF-scaling slope table: warm wall-clock per query at the three
testdata scale factors, with the 10x-step ratios — the artifact that
catches a superlinear (scale-killer) shape before it meets real data.

A query is flagged ``superlinear`` when a 10x data step costs more
than ``THRESHOLD``x wall (13, the round-9 convention: generous for
constant-overhead-dominated small-SF walls, far below the 100x a
funnel costs).

Usage: python tools/slopes.py OUT.json [query ...]   # default: the
round-11 watchlist (r10's 22 + the round's new rank/rollup shapes).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import materialize
from mapreduce_faultolerrant_localityaware_spark.session import get_spark

SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
THRESHOLD = 13.0

#: r10's 22-query watchlist plus round 11's additions — notably
#: roc_auc_continuous, the NEAR-UNIQUE continuous-score fixture the
#: tie-heavy fixtures cannot stand in for (VERDICT r10 item 1)
DEFAULT = [
    "graph_pagerank", "simjoin_cosine", "dedup_incremental_fuzzy",
    "lm_score", "dedup_pipeline", "simjoin_prefix", "dedup_embedding_srp",
    "bm25_search", "dedup_clusters", "contamination_fuzzy",
    "roc_auc", "mannwhitney_u", "lift_table", "rfm_segments",
    "kruskal_wallis", "js_divergence", "interval_sweep",
    "bh_significance", "contamination_embedding", "hll_rollup",
    "anova_oneway", "levene_test",
    # round 11
    "roc_auc_continuous", "ks_test", "revenue_concentration",
    "quantile_rollup", "k_anonymity",
    # round 11b: the experimentation/eval battery + the graph shapes
    # touched by the scan-once materialization
    "logrank_test", "ab_sequential", "info_gain", "offpolicy_eval",
    "simpsons_check", "feature_hash", "graph_modularity",
    "triangle_count", "graph_clustering",
]


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    spark = get_spark("slopes")
    qs = entry_mod.queries()
    table: dict[str, dict] = {}
    for name in names:
        walls = []
        for sf in SFS:
            materialize(qs[name](spark, sf))  # cold/codegen pass
            w = min(
                _timed(lambda: materialize(qs[name](spark, sf)))
                for _ in range(2)
            )
            walls.append(round(w, 3))
        r1 = round(walls[1] / walls[0], 2) if walls[0] else None
        r2 = round(walls[2] / walls[1], 2) if walls[1] else None
        table[name] = {
            "warm_sec": walls,
            "ratio_001_01": r1,
            "ratio_01_1": r2,
            "superlinear": bool(
                (r1 and r1 > THRESHOLD) or (r2 and r2 > THRESHOLD)
            ),
        }
        print(name, table[name], flush=True)
    with open(out_path, "w") as fh:
        json.dump({"sfs": SFS, "queries": table}, fh)
        fh.write("\n")
    bad = [n for n, v in table.items() if v["superlinear"]]
    print("superlinear:", bad or "none")


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
