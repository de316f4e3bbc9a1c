from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ipes_data_pipeline_spark.session import get_session

    s = get_session("ipes-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def distributed_regimes(monkeypatch):
    """Context manager forcing every size-gated site of
    ``operators.regime`` into its distributed / spill regime (all caps
    0). Every regime decision is made on the driver, so patching the cap
    table in-process reaches all of them."""
    from ipes_data_pipeline_spark.operators import regime

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            for site in regime.CAPS:
                m.setitem(regime.CAPS, site, 0)
            yield

    return forced
