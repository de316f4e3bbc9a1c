"""Session policy: shuffle sizing comes from the session, never from the
caller's environment."""

from __future__ import annotations

import ast
import os
import re

import pytest

import ipes_data_pipeline_spark
from ipes_data_pipeline_spark.session import _default_driver_memory, tune

_INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_REMOVED_KNOB = "spark.ipes.initialPartitionsPerBytes"


def _sizing(spark) -> tuple[str, str]:
    tune(spark)
    return spark.conf.get(_INITIAL), spark.conf.get("spark.sql.shuffle.partitions")


def test_tune_sizes_shuffles_to_core_count(spark):
    cores = str(spark.sparkContext.defaultParallelism)
    assert _sizing(spark) == (cores, cores)


@pytest.mark.parametrize("sf_dir_set", [False, True])
@pytest.mark.parametrize("per_bytes", [None, "1"])
def test_tune_ignores_bench_env_and_removed_knob(
    spark, monkeypatch, tmp_path, sf_dir_set, per_bytes
):
    # A non-empty dataset directory plus a 1-byte-per-partition rate is
    # what used to drive initialPartitionNum to its 1024 cap.
    (tmp_path / "part.parquet").write_bytes(b"\0" * 4096)
    if sf_dir_set:
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    else:
        monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    cores = str(spark.sparkContext.defaultParallelism)
    try:
        if per_bytes is not None:
            spark.conf.set(_REMOVED_KNOB, per_bytes)
        assert _sizing(spark) == (cores, cores)
    finally:
        spark.conf.unset(_REMOVED_KNOB)


def test_default_driver_memory_fits_host():
    mem = _default_driver_memory()
    assert re.fullmatch(r"\d+m", mem), mem
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert 0 < int(mem[:-1]) < phys_mb


_BENCH_ENV = re.compile(r"SPARK_GRAFT_SF_DIR|SPARK_GRAFT_BENCH_\w*")


def bench_env_reads(source: str) -> list[str]:
    """String literals in ``source`` naming a bench-harness variable."""
    return [
        node.value
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _BENCH_ENV.search(node.value)
    ]


def test_no_package_module_reads_bench_env():
    """Bench-harness variables must not steer product behaviour: sweep
    every module of the package. Also checks the detector fires on the
    shapes such a read takes and stays quiet on deployment settings."""
    assert bench_env_reads('os.environ.get("SPARK_GRAFT_SF_DIR")')
    assert bench_env_reads('os.environ["SPARK_GRAFT_BENCH_RUNS"]')
    assert bench_env_reads('os.getenv("SPARK_GRAFT_BENCH_QUERIES", "")')
    assert not bench_env_reads('os.environ.get("SPARK_GRAFT_CPUS", "*")')

    root = os.path.dirname(ipes_data_pipeline_spark.__file__)
    offenders = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    hits = bench_env_reads(f.read())
                if hits:
                    offenders[os.path.relpath(path, root)] = hits
    assert not offenders, offenders
