from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from thread_based_map_reduce_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    # Full-catalog end-to-end sweeps (giant-row, empty/null/single-row)
    # dominate suite wall-clock; `-m "not sweep"` gives a quick dev run.
    # The default (unfiltered) run still includes them — the round gate
    # wants the whole suite green (ADVICE r6).
    config.addinivalue_line(
        "markers", "sweep: full-catalog end-to-end sweep (slow; excludable)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tbmr-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
