from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_faultolerrant_localityaware_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ledger_sf0.001.json")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def ledger():
    """The pinned per-query ledger, ``tests/ledger_sf0.001.json``."""
    with open(LEDGER) as fh:
        return json.load(fh)
