"""The per-query ledger: each ``queries()`` entry's normalised plan
(cuts included), rows, row digest, construction py4j calls,
construction jobs, Exchange counts, per-table parquet scans and plan
hazards at sf0.001, pinned in ``tests/ledger_sf0.001.json`` by
``tools/dump_named_plans.py --ledger`` and rebuilt here in a fresh
process: the one whole-surface build of a verify.

Plans, rows, counts and hazards must match exactly; py4j calls and
construction jobs may fall but never rise.  A change that moves a
plan, a count, a hazard or a result re-pins the ledger and gives the
reason in CHANGES.md.  The pinned hazards must also pass
``tests/test_plan_hygiene.py`` (its BNLJ_OK and DOMAIN_OK whitelists)
and ``tests/test_no_complex_outputs.py``, which read the pin.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOL = os.path.join(_REPO, "tools", "dump_named_plans.py")
#: fields that must match the pinned ledger exactly
_EXACT = ("plan_sha1", "rows", "rows_sha1", "exchanges", "scans", "hazards")
#: construction costs that may fall but never rise
_CEILING = ("py4j", "construct_jobs")


def _normalise():
    spec = importlib.util.spec_from_file_location("dump_named_plans", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalise


_PLAN = """\
(3) Exchange
Input [2]: [word#{a}, count#{b}L]
Arguments: RoundRobinPartitioning({n}), REPARTITION_BY_NUM, [plan_id={p}]

(4) {op}
Input [2]: [word#{a}, count#{b}L]
"""


def test_normalise_is_host_independent():
    """A plan's text does not depend on the core count (which
    ``ensure_parallelism`` prints as the round-robin partition count)
    or on the session's expression and plan ids; an operator change
    still shows."""
    normalise = _normalise()
    four = _PLAN.format(a=12, b=13, n=4, p=7, op="HashAggregate")
    many = _PLAN.format(a=512, b=514, n=32, p=91, op="HashAggregate")
    other = _PLAN.format(a=12, b=13, n=4, p=7, op="SortAggregate")
    assert normalise(four) == normalise(many)
    assert normalise(four) != normalise(other)


def test_ledger(sf_dir, tmp_path, ledger):
    """A fresh build of the ledger matches ``tests/ledger_sf0.001.json``."""
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip(f"the ledger is pinned at sf0.001, not {sf_dir}")
    differ = sorted(set(ledger) ^ set(entry_mod.queries()))
    assert not differ, f"the ledger's queries differ from queries() in {differ}: re-pin it"
    out = tmp_path / "ledger.json"
    proc = subprocess.run(
        [sys.executable, _TOOL, "--ledger", str(out)],
        cwd=_REPO,
        # a 2 GB driver heap keeps the whole-surface build near 2.6 GB of
        # RSS, on any host; under a 16 GB heap it grew past 5.8 GB
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_DRIVER_MEM="2g"),
        capture_output=True,
        text=True,
        # about twice the 450-580 s whole-surface build at 4 cores, and
        # short enough that the rest of the fast tier still fits inside
        # its 2,670 s verify window when the build hangs
        timeout=1150,
    )
    assert proc.returncode == 0, f"ledger build failed:\n{proc.stderr[-3000:]}"
    with open(out) as fh:
        got = json.load(fh)
    repin = (
        f"SPARK_GRAFT_SF_DIR={sf_dir} python tools/dump_named_plans.py "
        "--ledger tests/ledger_sf0.001.json"
    )
    problems = []
    for name in sorted(ledger):
        for field in _EXACT + _CEILING:
            old, new = ledger[name][field], got[name][field]
            if new != old and (field in _EXACT or new > old):
                policy = (
                    "; after the re-pin, tests/test_plan_hygiene.py allows `bnlj` "
                    "only in BNLJ_OK and `window_domain` only in DOMAIN_OK, and "
                    "no other tag anywhere"
                    if field == "hazards"
                    else ""
                )
                problems.append(
                    f"{name}: {field} {old} -> {new}; show the plan with "
                    f"`SPARK_GRAFT_SF_DIR={sf_dir} python tools/dump_named_plans.py "
                    f"OUT SUFFIX {name}`; if intended, re-pin with `{repin}` and "
                    f"give the reason in CHANGES.md{policy}"
                )
    assert not problems, "\n".join(problems)
