from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sol_spark.session import get_session

SF_DIR = os.environ.get("SOLSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session("solspark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def distributed_loop(monkeypatch):
    """Local-finish gate 0: connected components and MST run their
    distributed rounds, the only path for graphs above the gate (every
    test fixture fits under the default gate)."""
    from sol_spark.operators import dedup

    monkeypatch.setattr(dedup, "LOCAL_FINISH_MAX_ROWS", 0)
