"""Regime policy guards: every size-gated driver/distributed choice goes
through the one cap table in ``operators/regime.py``."""

from __future__ import annotations

import os

import ipes_data_pipeline_spark
from ipes_data_pipeline_spark.operators import regime

_REMOVED_CONFS = (
    "spark.ipes.spillMinInputBytes",
    "spark.ipes.edgeSpillMinInputBytes",
    "spark.ipes.bloomKeyCollectMaxBytes",
    "spark.ipes.pqDriverTrainMaxBytes",
)


def _package_sources() -> dict[str, str]:
    root = os.path.dirname(ipes_data_pipeline_spark.__file__)
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    out[os.path.relpath(path, root)] = f.read()
    return out


def test_removed_regime_confs_are_gone():
    offenders = {
        path: [c for c in _REMOVED_CONFS if c in src]
        for path, src in _package_sources().items()
        if any(c in src for c in _REMOVED_CONFS)
    }
    assert not offenders, offenders


def test_size_estimate_read_only_in_regime():
    readers = {p for p, src in _package_sources().items() if "sizeInBytes" in src}
    assert readers == {os.path.join("operators", "regime.py")}


def test_small_is_strictly_below_cap(monkeypatch):
    monkeypatch.setitem(regime.CAPS, "edge_spill", 10)
    assert regime.small("edge_spill", 9)
    assert not regime.small("edge_spill", 10)
