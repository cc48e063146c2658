"""Dump ``explain("formatted")`` for named queries to files, with the
per-run ids normalised, plus each query's rows and construction cost,
so that two dumps of the same query — from two commits, two sessions,
two hosts or two scale factors of the same shape — diff to nothing and
a diff shows only a real change of plan, result or construction cost.
``--ledger`` writes the same record for every ``queries()`` entry as
one JSON file, the committed ``tests/ledger_sf0.001.json`` that
``tests/test_ledger.py`` rebuilds and compares.

Each file holds the plan, then the plan of every frame the query cut
while it was built (an eager ``materialize_once``: a checkpoint in a
graph round loop, a multi-consumer frame), each under a
``== cut <i> ==`` header in cut order, then two lines:

    rows=<n> sha1=<digest of the sorted row reprs>
    py4j=<non-"m" py4j commands of a second construction> construct_jobs=<n>

A cut's consumers read its checkpointed blocks, so the final plan
shows only a scan of the checkpointed RDD where the cut frame's stages
were; without the cut plans a change to those stages would diff
clean.  The cuts are recorded by wrapping ``materialize_once`` in
every package module during the first construction only (every
module-level name bound to it is rebound, as ``perfbench/tracing.py``
does), so ``py4j`` still counts the query alone.

A query whose construction or collection raises (an unknown name
included) gets a file holding one ``error=<type>: <message>`` line
(the message's first line); the tool goes on with the next query and
exits 1 at the end.

``py4j`` counts the commands Python sends to the JVM while the
query's ``_q_`` function runs a second time in the warm session (the
first construction pays one-off costs such as schema resolution);
``m`` commands (py4j object releases) follow the Python garbage
collector, not the code, and are left out.  ``construct_jobs`` counts
the Spark jobs the first construction starts itself (its own job
group, read from ``statusTracker()``): the eager ``materialize_once``
barriers and driver collects.  The jobs adaptive execution submits for
each query stage inside them are left out: how many it submits follows
timing (a stage a sibling already runs is not submitted again; one
graph query measured 173–175 with every plan the same).  The first
``scan()`` of a table in a process starts a schema-inference job and
later scans start none, so the tool resolves every ``scans.TABLES``
schema in the sf dir before the first query: no query's count depends
on the queries built before it.  The digest hashes every collected
row, so it also covers queries whose oracle check is rows-only.

The session has 8 shuffle partitions (the test session's), whatever
the core count, so the text does not depend on the host.
Normalised: expression ids (``o_orderkey#123L`` → ``o_orderkey#_L``),
RDD ids and creation sites (``MapPartitionsRDD[109] at localCheckpoint
at NativeMethodAccessorImpl.java:0`` → ``MapPartitionsRDD[_] at
localCheckpoint at _``; the site depends on what ran before), exchange
plan ids (``[plan_id=42]`` → ``[plan_id=_]``), the round-robin
partition count (``RoundRobinPartitioning(_)``: ``ensure_parallelism``
sizes it from the core count), the scratch paths that
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
- the Expand of a distinct aggregate (``count(DISTINCT ...)``, the
  Expand whose output holds ``gid``) orders its groups by expression-id
  hash.  Expression ids follow the process's history, which adaptive
  execution's re-plans make timing-dependent, so even two fresh builds
  of the same queries in the same order can print different orders.

The ledger maps each query to ``plan_sha1`` (the sha1 of the
plan-and-cuts text above; ``null`` when that text holds a distinct
aggregate's Expand, whose order is not reproducible), ``rows``,
``rows_sha1``, ``py4j``, ``construct_jobs``, ``exchanges`` (the final
plan's ``Exchange``, ``BroadcastExchange`` and ``ReusedExchange``
counts) and ``scans`` (the final plan's parquet scans per table: a cut
frame's consumers read its blocks, not the table); wall times stay
out, they are not deterministic.  It is written only if every query
builds and collects: on any error the tool names the failures, exits 1
and leaves PATH untouched.  A change that moves a plan, a count or a
result re-pins the whole ledger with the command below and gives the
reason in CHANGES.md; ``py4j`` and ``construct_jobs`` may fall without
a re-pin.

Usage: python tools/dump_named_plans.py OUT_DIR SUFFIX q1 q2 ...
       (files land at OUT_DIR/<q>_<SUFFIX>.txt; sf dir from
        $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.01)
       python tools/dump_named_plans.py --ledger PATH
       (sf dir as above; re-pin with $SPARK_GRAFT_SF_DIR set to the
        sf0.001 test data and PATH tests/ledger_sf0.001.json)

Compare two dumps with ``diff -r OLD_DIR NEW_DIR`` (same SUFFIX).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_faultolerrant_localityaware_spark.plans.introspect import (  # noqa: E402
    exchange_counts,
    scan_counts_from_plan,
)

_IDS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"(RDD\[_\] at \w+ at )[^\s,]+:\d+"), r"\1_"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=_]"),
    (re.compile(r"RoundRobinPartitioning\(\d+\)"), "RoundRobinPartitioning(_)"),
    (re.compile(r"sparkgraft_scratch_\w+(/[\w.-]+?-)\d+"), r"sparkgraft_scratch__\1_"),
)
_COUNTERS = (
    (re.compile(r"\blambda \w+"), "lambda v"),
    (re.compile(r"\b_common_expr_\d+\b"), "_common_expr"),
)
#: a distinct aggregate's Expand (its output holds ``gid``), whose
#: group order follows the expression-id history
_DISTINCT_EXPAND = re.compile(r"^\(\d+\) Expand\n(?:.+\n)*?Arguments: .*\bgid#", re.M)
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
    """``plan`` with its per-run expression, RDD and plan ids and its
    round-robin partition count blanked, its lambda variables bound by
    position and its common-expression aliases renumbered from 0."""
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


class _CutRecorder:
    """Collects the normalised plan of every frame ``materialize_once``
    cuts while recording; the wrapper is bound in every package module
    only for the duration of :meth:`record`."""

    def __init__(self, mode) -> None:
        from mapreduce_faultolerrant_localityaware_spark.operators import _materialize

        self.mode, self.plans = mode, []
        self.orig = _materialize.materialize_once

        def materialize_once(df, *args, **kwargs):
            self.plans.append(self.explain(df))
            return self.orig(df, *args, **kwargs)

        self.wrapper = materialize_once

    def explain(self, df) -> str:
        return normalise(df._jdf.queryExecution().explainString(self.mode))

    @staticmethod
    def _rebind(old, new) -> None:
        pkg = "mapreduce_faultolerrant_localityaware_spark"
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name.startswith(pkg) or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is old:
                    setattr(mod, attr, new)

    def record(self, fn):
        self.plans = []
        self._rebind(self.orig, self.wrapper)
        try:
            return fn()
        finally:
            self._rebind(self.wrapper, self.orig)


#: the call site of the jobs adaptive execution submits from its own
#: threads, one per query stage; how many it submits follows timing (a
#: stage a sibling already runs is not submitted again)
_AQE_SITE = "withThreadLocalCaptured"


def _driver_jobs(sc, group: str) -> int:
    """Jobs of ``group`` the driver code started itself (checkpoint
    barriers, collects): a job's result stage has its highest stage id
    and is named after the call that started the job."""
    # job-start events reach statusTracker() through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st, n = sc.statusTracker(), 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        stage = info and st.getStageInfo(max(info.stageIds))
        n += bool(stage) and _AQE_SITE not in stage.name
    return n


def _record(spark, qs, name, sf_dir, py4j, cuts, group) -> dict:
    """Query ``name``'s plan-and-cuts text, rows, row digest, py4j calls,
    construction jobs (those started under job group ``group``) and its
    final plan's Exchange and per-table parquet-scan counts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = cuts.record(lambda: qs[name](spark, sf_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = _driver_jobs(sc, group)
    final = cuts.explain(df)
    text = final + "".join(f"\n== cut {i} ==\n{plan}" for i, plan in enumerate(cuts.plans, 1))
    rows = sorted(repr(r) for r in df.collect())
    return {
        "plan": text,
        "rows": len(rows),
        "rows_sha1": hashlib.sha1("\n".join(rows).encode()).hexdigest(),
        "py4j": py4j.count(lambda: qs[name](spark, sf_dir)),
        "construct_jobs": jobs,
        "exchanges": exchange_counts(final),
        "scans": scan_counts_from_plan(final),
    }


def _dump_text(rec: dict) -> str:
    """The dump file's text for one :func:`_record`."""
    return (
        f"{rec['plan']}\nrows={rec['rows']} sha1={rec['rows_sha1']}\n"
        f"py4j={rec['py4j']} construct_jobs={rec['construct_jobs']}\n"
    )


def _write_ledger(path: str, recs: dict) -> None:
    """``recs`` as the ledger JSON, each plan text as its sha1."""
    ledger = {
        name: {k: v for k, v in rec.items() if k != "plan"}
        | {
            "plan_sha1": None
            if _DISTINCT_EXPAND.search(rec["plan"])
            else hashlib.sha1(rec["plan"].encode()).hexdigest()
        }
        for name, rec in recs.items()
    }
    with open(path, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    import __spark_entry__ as entry_mod
    from mapreduce_faultolerrant_localityaware_spark.session import get_spark
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import TABLES, scan

    qs = entry_mod.queries()
    ledger = sys.argv[1] == "--ledger"
    names = sorted(qs) if ledger else sys.argv[3:]
    if not ledger:
        out_dir, suffix = sys.argv[1], sys.argv[2]
        os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("dump-named-plans", shuffle_partitions=8)
    py4j = _Py4jCounter(spark)
    # each table's one schema-inference job, before any query's group
    for table in TABLES:
        scan(spark, sf_dir, table)
    cuts = _CutRecorder(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    recs, failed = {}, []
    for i, name in enumerate(names):
        try:
            recs[name] = _record(spark, qs, name, sf_dir, py4j, cuts, f"dump-named-plans-{i}")
            text = _dump_text(recs[name])
        except Exception as exc:  # noqa: BLE001 — recorded, then the next query
            failed.append(name)
            msg = (str(exc).strip().splitlines() or [""])[0]
            text = f"error={type(exc).__name__}: {msg}\n"
        if ledger:
            print(f"{name}: {text.splitlines()[-1]}")
            continue
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as fh:
            fh.write(text)
        print(f"wrote {out} ({len(text.splitlines())} lines, {text.splitlines()[-1]})")
    if failed:
        print(f"{len(failed)} of {len(names)} queries failed: {' '.join(failed)}", file=sys.stderr)
        if ledger:
            print(f"{sys.argv[2]} left untouched", file=sys.stderr)
        return 1
    if ledger:
        _write_ledger(sys.argv[2], recs)
        print(f"wrote {sys.argv[2]} ({len(recs)} queries)")
    return 0

if __name__ == "__main__":
    sys.exit(main())
