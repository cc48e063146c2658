"""Committed-artifact freshness: the full-surface local correctness
artifacts must exist and cover EVERY ``queries()`` entry — a query
added without regenerating the artifacts (the exact blind spot that
hid the round-3 triangle_count regression) fails CI immediately.
Regenerate with:

    python tools/check_oracle.py --json CORRECTNESS_local_r<N>_sf0.001.json /root/testdata/sf0.001
    python tools/check_oracle.py --json CORRECTNESS_local_r<N>_sf0.01.json  /root/testdata/sf0.01

The same static pass over the repo's source also fails on a package
function option that no call in the repo sets.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re

import __spark_entry__ as entry_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# queries with no SQL oracle by design (rows-only in the driver gate)
NO_ORACLE = {
    # Borůvka MSF: iterative election/contraction loop — exactness is
    # pinned by tests/test_boruvka.py's Kruskal cross-check instead
    "graph_msf",
    # PAVA is not SQL-expressible; exact-rational pools pinned in
    # tests/test_round8b_ops.py
    "isotonic_fit",
    "approx_distinct",
    "ann_ivf_kmeans",
    # assign-only ingest over the fitted quantizer: same iterative-fit
    # exclusion as ann_ivf_kmeans; recall + stable-assignment pins in
    # tests/test_ann_incremental.py
    "ann_incremental",
    "ann_pq",
    "ann_ivfpq",
    # GK quantile sketch: estimates are engine-specific by design;
    # accuracy asserted against exact percentiles in pytest instead
    "approx_percentiles",
    # iterative argmax loop; exact-reference pytest pins the values
    "bpe_train",
    # depends on the iterative trainer's rules; reference pytest
    "bpe_encode",
    # Misra-Gries counters depend on partition layout; the MG
    # guarantee is pytest-asserted instead
    "heavy_hitters",
    # k-means-cell-blocked pairs depend on the iterative fit; recall
    # vs the exact all-pairs truth set is pytest-pinned instead
    "dedup_semantic",
    # composes dedup_semantic; components pytest-pinned vs union-find
    "dedup_semantic_pipeline",
    # greedy sequential selection has no closed SQL form; pinned in
    # pytest against a pure-python MMR reference
    "mmr_diversify",
    # eigendecomposition has no SQL form; covariance input is oracle-
    # gated (embedding_covariance) and the projection is pytest-pinned
    # against a pure-numpy reference
    "pca_project",
    # DataSketches HLL is a different sketch family than DuckDB's
    # approx_count_distinct; the 4% (3σ at lg_k=12) accuracy pin vs
    # exact weekly distincts is tests/test_round10_ops.py
    "hll_rollup",
    # GK percentile grids are a different sketch family than DuckDB's
    # approx quantiles; the ±2%-rank accuracy pin vs exact weekly +
    # all-time percentiles is tests/test_round11_ops.py
    "quantile_rollup",
}


def _latest(sf: str) -> str:
    paths = glob.glob(os.path.join(REPO, f"CORRECTNESS_local_r*_sf{sf}.json"))
    assert paths, f"no committed CORRECTNESS_local_r*_sf{sf}.json artifact"
    return max(paths, key=lambda p: int(re.search(r"_r(\d+)_", p).group(1)))


def _check(sf: str) -> None:
    path = _latest(sf)
    with open(path) as f:
        report = json.load(f)
    qnames = set(entry_mod.queries())
    missing = qnames - set(report)
    assert not missing, f"{os.path.basename(path)} missing queries {sorted(missing)} — regenerate"
    stale = set(report) - qnames
    assert not stale, f"{os.path.basename(path)} has stale queries {sorted(stale)} — regenerate"
    bad = [
        n
        for n, rec in report.items()
        if n in qnames
        and n not in NO_ORACLE
        and not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"])
    ]
    assert not bad, f"{os.path.basename(path)} has non-green rows: {sorted(bad)}"
    # no-oracle queries must carry the explicit rows-only marker (plus a
    # real row count) so the artifact distinguishes by-design rows-only
    # from not-run (round-6 judge item 3)
    unmarked = [
        n
        for n in NO_ORACLE
        if n in report
        and not (report[n].get("rows_only") and report[n].get("spark_rows") is not None)
    ]
    assert not unmarked, (
        f"{os.path.basename(path)} no-oracle queries missing rows_only marker: "
        f"{sorted(unmarked)} — regenerate with tools/check_oracle.py"
    )


def test_every_oracle_names_a_query():
    """An oracle key with no ``_q_<name>`` builder (say, one left behind
    by a rename) would otherwise be skipped silently by check_oracle."""
    orphans = set(entry_mod.oracle_sql()) - set(entry_mod.queries())
    assert not orphans, f"oracle_sql() keys with no query: {sorted(orphans)}"


def test_queries_without_oracle_are_declared():
    """A query loses its oracle only by a NO_ORACLE entry with a reason."""
    unchecked = set(entry_mod.queries()) - set(entry_mod.oracle_sql())
    assert unchecked == NO_ORACLE, (
        f"undeclared: {sorted(unchecked - NO_ORACLE)}; "
        f"stale NO_ORACLE entries: {sorted(NO_ORACLE - unchecked)}"
    )


def test_sf0001_artifact_fresh_and_green():
    _check("0.001")


def test_sf001_artifact_fresh_and_green():
    _check("0.01")


def test_bench_artifact_covers_headline_list():
    """The committed bench artifact must cover the CURRENT headline
    list — a headliner added (or renamed) without re-benching fails CI
    the same way a query added without re-oracling does (round-8
    analog of the correctness-artifact pin).  Regenerate with:

        SPARK_GRAFT_BENCH_OUT=BENCH_local_r<N>.json python bench.py
    """
    import bench as bench_mod

    paths = glob.glob(os.path.join(REPO, "BENCH_local_r*.json"))
    assert paths, "no committed BENCH_local_r*.json artifact"
    path = max(paths, key=lambda p: int(re.search(r"_r(\d+)", p).group(1)))
    with open(path) as f:
        report = json.load(f)
    measured = set(report.get("queries", {}))
    headline = set(bench_mod.HEADLINE)
    missing = headline - measured
    assert not missing, (
        f"{os.path.basename(path)} missing headliners {sorted(missing)} — re-bench"
    )
    stale = measured - headline
    assert not stale, (
        f"{os.path.basename(path)} has stale headliners {sorted(stale)} — re-bench"
    )
    # every headliner must also be a real queries() entry
    unknown = headline - set(entry_mod.queries())
    assert not unknown, f"HEADLINE names not in queries(): {sorted(unknown)}"
    # the artifact's own consistency: totals recompute from the map
    assert abs(report["value"] - round(sum(report["queries"].values()), 3)) < 0.01


# deployment settings a cluster launch passes to get_spark, not operator
# options: the repo's own callers all run local[...]
UNSET_OPTION_ALLOW = {"session.get_spark:master"}
PKG = "mapreduce_faultolerrant_localityaware_spark"


def _repo_trees():
    paths = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    for top in (PKG, "tools", "perfbench", "tests"):
        paths += glob.glob(os.path.join(REPO, top, "**", "*.py"), recursive=True)
    for path in paths:
        with open(path) as f:
            yield os.path.relpath(path, REPO), ast.parse(f.read())


def _package_defs(mod, node, prefix="", cls=None):
    """(name, callee name, def, is_method) for every function in ``node``."""
    for ch in ast.iter_child_nodes(node):
        if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
            static = any(getattr(d, "id", None) == "staticmethod" for d in ch.decorator_list)
            callee = cls if cls and ch.name == "__init__" else ch.name
            yield f"{mod}.{prefix}{ch.name}", callee, ch, bool(cls) and not static
            yield from _package_defs(mod, ch, f"{prefix}{ch.name}.")
        elif isinstance(ch, ast.ClassDef):
            yield from _package_defs(mod, ch, f"{prefix}{ch.name}.", ch.name)
        else:
            yield from _package_defs(mod, ch, prefix, cls)


def test_every_operator_option_is_set_by_some_call():
    """A defaulted parameter that no call in the repo sets is a setting
    nothing exercises: the function should use the value.  A call sets
    a parameter by keyword, by position, or by passing ``*args`` or
    ``**kwargs``; calls are matched by the callee's name (a class call
    is its ``__init__``), so a name shared with another function can
    only hide an unset option, never invent one."""
    defs, calls = [], {}
    for rel, tree in _repo_trees():
        if rel.startswith(PKG + os.sep):
            mod = rel[len(PKG) + 1:-3].replace(os.sep, ".")
            defs += _package_defs(mod, tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                calls.setdefault(name, []).append(n)
    unset = []
    for qual, callee, fn, is_method in defs:
        a = fn.args
        pos = a.posonlyargs + a.args
        first = len(pos) - len(a.defaults)
        options = [(p.arg, i - is_method) for i, p in enumerate(pos) if i >= first]
        options += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        for name, idx in options:
            if not any(
                any(isinstance(x, ast.Starred) for x in c.args)
                or any(k.arg in (None, name) for k in c.keywords)
                or (idx is not None and len(c.args) > idx)
                for c in calls.get(callee, [])
            ):
                unset.append(f"{qual}:{name}")
    unset = sorted(set(unset) - UNSET_OPTION_ALLOW)
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call sets (use the value "
        f"instead): {unset}"
    )
