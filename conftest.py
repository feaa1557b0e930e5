"""Repo-root pytest config: shared local SparkSession + fixture corpus."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))


@pytest.fixture(scope="session")
def spark():
    from kgx.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8, app_name="kgx-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """Deterministic pages + golden parquet, written once per test session."""
    from kgx.fixtures import write_fixture

    d = tmp_path_factory.mktemp("kgx_fixture")
    write_fixture(str(d), n=200)
    return str(d)


@pytest.fixture
def over_budget(monkeypatch):
    """``over_budget("canon.cc", ...)`` sends the named ``kgx.budget`` gates
    to their distributed regime for the rest of the test, whatever the
    measured size; the test fails if a named gate was never consulted."""
    from kgx import budget

    fits, forced, seen = budget.fits, set(), set()

    def fake(gate, n, nbytes):
        if gate in forced:
            seen.add(gate)
            return False
        return fits(gate, n, nbytes)

    monkeypatch.setattr(budget, "fits", fake)
    yield lambda *gates: forced.update(gates)
    assert forced <= seen, f"budget gates never consulted: {sorted(forced - seen)}"
