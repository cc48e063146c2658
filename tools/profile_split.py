"""Construction/execution split profiler (round 12).

For each named headliner, times separately:

- ``construct``: the ``queries()[name](spark, sf_dir)`` call — driver-side
  plan building: py4j round-trips, any bounded collects (codebook fits,
  scalar attaches) and eager checkpoint barriers that run at
  construction time;
- ``execute``: the noop-sink write of the returned frame — Catalyst
  analysis/optimization of the final plan plus all remaining stages.

This is the split that exposed the round-11 ANN win (5.46 s wall with
0.85 s inside stages).  A query whose ``construct`` dominates is
driver-bound (guide §7.3 — planning/py4j, not data); one whose
``execute`` dominates at ratio≈1 over 8→32 cores is
analysis/codegen-bound.  min-of-3 of each after one cold pass, same
discipline as bench.py.

Usage: python tools/profile_split.py q1 q2 ...
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


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-split")
    qs = entry_mod.queries()
    materialize(qs["sort_limit"](spark, sf_dir))
    out = {}
    for name in names:
        # cold pass (codegen, parquet footers) — not reported
        materialize(qs[name](spark, sf_dir))
        cons, exe = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            materialize(df)
            t2 = time.perf_counter()
            cons.append(t1 - t0)
            exe.append(t2 - t1)
        out[name] = {
            "construct": round(min(cons), 3),
            "execute": round(min(exe), 3),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
