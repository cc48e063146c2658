"""Dump ``explain("formatted")`` for named queries to files, with the
per-run ids normalised, so that two dumps of the same plan — from two
commits, two sessions or two scale factors of the same shape — diff to
nothing and a diff shows only a real plan change.

Normalised: expression ids (``o_orderkey#123L`` → ``o_orderkey#_L``),
RDD ids (``MapPartitionsRDD[109]`` → ``MapPartitionsRDD[_]``), exchange
plan ids (``[plan_id=42]`` → ``[plan_id=_]``), and lambda variables,
whose session-wide counter (``lambda x_241``) is renumbered in order
of first appearance within each plan (``lambda x_0``, ``lambda y_1``).
Operator numbers ``(7)`` are kept: they are positional, not per-run.

Usage: python tools/dump_named_plans.py OUT_DIR SUFFIX q1 q2 ...
       (files land at OUT_DIR/<q>_<SUFFIX>.txt; sf dir from
        $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.01)

Compare two dumps with ``diff -r OLD_DIR NEW_DIR`` (same SUFFIX).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=_]"),
)
_LAMBDA = re.compile(r"\blambda (\w+?)_\d+\b")


def normalise(plan: str) -> str:
    """``plan`` with its per-run expression, RDD and plan ids blanked
    and its lambda variables renumbered from 0."""
    for pat, repl in _IDS:
        plan = pat.sub(repl, plan)
    seen: dict[str, str] = {}
    return _LAMBDA.sub(
        lambda m: seen.setdefault(m.group(0), f"lambda {m.group(1)}_{len(seen)}"), plan
    )


def main() -> None:
    import __spark_entry__ as entry_mod
    from mapreduce_faultolerrant_localityaware_spark.session import get_spark

    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-named-plans")
    qs = entry_mod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = normalise(df._jdf.queryExecution().explainString(mode))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
