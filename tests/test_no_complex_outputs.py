"""No query on the declared surface may emit a complex-typed column.

The external correctness gate canonicalizes each result with a pandas
sort over all columns; array/map/struct cells are unhashable there and
err the gate (round-6 driver artifact: ``tokens_to_ids``).  Library
APIs are free to return arrays — the QUERY surface must serialize them
(comma-joined strings) before returning.  This test pins that contract
for every ``queries()`` entry so the class of bug cannot recur, on the
``complex_output`` tag the ledger pins for it (``hazards``;
``tests/test_ledger.py`` makes a fresh build equal the pin, so no query
is built here).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_no_complex_typed_output(ledger, name):
    assert "complex_output" not in ledger[name]["hazards"], (
        f"{name}: complex-typed output column(s) — the external gate "
        "cannot canonicalize these; serialize (array_join) in the query "
        "wrapper and array_to_string(...) in the oracle SQL"
    )
