"""Dump ``explain("formatted")`` for named queries to files, with the
per-run ids normalised, plus each query's rows and construction cost,
so that two dumps of the same query — from two commits, two sessions
or two scale factors of the same shape — diff to nothing and a diff
shows only a real change of plan, result or construction cost.

Each file holds the plan followed by two lines:

    rows=<n> sha1=<digest of the sorted row reprs>
    py4j=<non-"m" py4j commands of a second construction>

``py4j`` counts the commands Python sends to the JVM while the
query's ``_q_`` function runs a second time in the warm session (the
first construction pays one-off costs such as schema resolution);
``m`` commands (py4j object releases) follow the Python garbage
collector, not the code, and are left out.  The digest hashes every collected
row, so it also covers queries whose oracle check is rows-only.

Normalised: expression ids (``o_orderkey#123L`` → ``o_orderkey#_L``),
RDD ids and creation sites (``MapPartitionsRDD[109] at localCheckpoint
at NativeMethodAccessorImpl.java:0`` → ``MapPartitionsRDD[_] at
localCheckpoint at _``; the site depends on what ran before), exchange
plan ids (``[plan_id=42]`` → ``[plan_id=_]``), the scratch paths that
sink round-trip and streaming queries write under
(``sparkgraft_scratch_k3j9x2ab/stream-2`` →
``sparkgraft_scratch__/stream-_``: a per-process ``mkdtemp`` root and a
per-request counter, see ``_scratch.py``), and two session-wide
counters renumbered in order of first appearance within each plan:
lambda variables (``lambda x_241`` → ``lambda v_0``) and common
subexpression aliases (``_common_expr_7`` → ``_common_expr_0``).
Every lambda variable is renamed, whatever its name, and first by
position: the arguments of each ``lambdafunction`` become
``l<nesting depth>_<index>``.  pyspark's Column API generates ``x_<n>``
names from a session-wide counter, while a lambda parsed from SQL
keeps its written name (``lambda x``, the same in every copy), so the
same function built either way normalises alike, however many copies
of it a plan holds.
Operator numbers ``(7)`` are kept: they are positional, not per-run.

Two plan differences are not code changes:
- ``try_divide(a, b)`` prints as ``(a / b)``, so swapping ``/`` for
  ``F.try_divide`` leaves the plan text unchanged (the py4j count
  still moves);
- the Expand order of a distinct aggregate (``count(DISTINCT ...)``)
  can follow the session's expression-id history, so a query dumped
  after a changed query may print a different Expand order than the
  same query dumped alone.  Re-dump such a query alone before calling
  the difference a change.

Usage: python tools/dump_named_plans.py OUT_DIR SUFFIX q1 q2 ...
       (files land at OUT_DIR/<q>_<SUFFIX>.txt; sf dir from
        $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.01)

Compare two dumps with ``diff -r OLD_DIR NEW_DIR`` (same SUFFIX).
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"(RDD\[_\] at \w+ at )[^\s,]+:\d+"), r"\1_"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=_]"),
    (re.compile(r"sparkgraft_scratch_\w+(/[\w.-]+?-)\d+"), r"sparkgraft_scratch__\1_"),
)
_COUNTERS = (
    (re.compile(r"\blambda \w+"), "lambda v"),
    (re.compile(r"\b_common_expr_\d+\b"), "_common_expr"),
)
_LAMBDA_FN = "lambdafunction("
#: the argument list that ends a printed ``lambdafunction(body, args..., hidden)``
_LAMBDA_ARGS = re.compile(r"((?:, lambda \w+#\d+\w*)+), (?:true|false)$")


def _close_paren(text: str, start: int) -> int:
    """Index of the ``)`` that closes the ``(`` just before ``start``, or -1."""
    depth = 1
    for i in range(start, len(text)):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        if depth == 0:
            return i
    return -1


def _bind_lambdas(text: str, depth: int = 0) -> str:
    """``text`` with the arguments of each ``lambdafunction`` renamed by
    nesting depth and position (``lambda l<depth>_<i>``), innermost
    first, so a lambda prints the same whatever its variables were
    called."""
    out, i = [], 0
    while (j := text.find(_LAMBDA_FN, i)) >= 0:
        k = _close_paren(text, j + len(_LAMBDA_FN))
        if k < 0:
            break
        body = _bind_lambdas(text[j + len(_LAMBDA_FN) : k], depth + 1)
        args = _LAMBDA_ARGS.search(body)
        # a variable is its name AND expression id: an inner lambda may
        # shadow an outer one's name, never its id
        for n, (name, xid) in enumerate(
            re.findall(r"lambda (\w+)#(\d+)", args.group(1)) if args else []
        ):
            body = re.sub(rf"\blambda {name}#{xid}(?!\d)", f"lambda l{depth}_{n}#{xid}", body)
        out.append(text[i:j] + _LAMBDA_FN + body + ")")
        i = k + 1
    return "".join(out) + text[i:]


def normalise(plan: str) -> str:
    """``plan`` with its per-run expression, RDD and plan ids blanked,
    its lambda variables bound by position and its common-expression
    aliases renumbered from 0."""
    plan = _bind_lambdas(plan)
    for pat, repl in _IDS:
        plan = pat.sub(repl, plan)
    for pat, stem in _COUNTERS:
        seen: dict[str, str] = {}
        plan = pat.sub(lambda m: seen.setdefault(m.group(0), f"{stem}_{len(seen)}"), plan)
    return plan


class _Py4jCounter:
    """Counts the non-``m`` py4j commands the main thread sends while on."""

    def __init__(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        main = threading.get_ident()
        self.on, self.n = False, 0

        def send_command(command, *args, **kwargs):
            if self.on and command[:1] != "m" and threading.get_ident() == main:
                self.n += 1
            return send(command, *args, **kwargs)

        client.send_command = send_command

    def count(self, fn) -> int:
        self.n, self.on = 0, True
        try:
            fn()
        finally:
            self.on = False
        return self.n


def main() -> None:
    import __spark_entry__ as entry_mod
    from mapreduce_faultolerrant_localityaware_spark.session import get_spark

    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-named-plans")
    py4j = _Py4jCounter(spark)
    qs = entry_mod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = normalise(df._jdf.queryExecution().explainString(mode))
        rows = sorted(repr(r) for r in df.collect())
        digest = hashlib.sha1("\n".join(rows).encode()).hexdigest()
        calls = py4j.count(lambda: qs[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
            fh.write(f"\nrows={len(rows)} sha1={digest}\npy4j={calls}\n")
        print(f"wrote {path} ({len(plan.splitlines())} plan lines, "
              f"rows={len(rows)}, py4j={calls})")


if __name__ == "__main__":
    main()
