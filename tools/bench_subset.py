"""Time a subset of headline queries with bench.py's exact protocol
(cold + min-of-3 warm, noop-sink materialization) plus the calibration
workload — for regression adjudication without the full suite.

Usage: python tools/bench_subset.py q1 q2 ...

For scaling slopes across SFs use ``tools/slopes.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import calibrate, materialize
from mapreduce_faultolerrant_localityaware_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-subset")
    qs = entry_mod.queries()
    materialize(qs["sort_limit"](spark, sf_dir))
    out = {"calibration_sec": calibrate(spark), "queries": {}, "queries_cold": {}}
    for name in names:
        t0 = time.perf_counter()
        materialize(qs[name](spark, sf_dir))
        out["queries_cold"][name] = round(time.perf_counter() - t0, 3)
        warms = []
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            warms.append(time.perf_counter() - t0)
        out["queries"][name] = round(min(warms), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
