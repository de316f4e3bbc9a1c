"""SparkSession factory + runtime tuning.

The driver harness owns the session it passes to ``__spark_entry__``;
``tune`` therefore only sets *runtime-settable* confs so our queries
behave deterministically (UTC timestamps, non-ANSI coercions, AQE)
regardless of who built the session.

Shuffle sizing comes from the session alone (its core count), never
from the caller's environment; ``get_session`` reads only deployment
settings (core count, driver memory) and otherwise sizes to the host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe to set on a live session (all runtime-settable).
_RUNTIME_CONFS = {
    # DuckDB oracle comparisons need UTC-naive timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults to ANSI mode (casts throw). The engine's declared
    # semantics are null-on-failure coercions (reference: pd.to_datetime
    # errors="coerce", dashboard/pages/3_..._Data_Insights.py:36).
    "spark.sql.ansi.enabled": "false",
    # Runtime re-planning: coalesce tiny shuffle partitions, rewrite
    # skewed sort-merge joins, convert SMJ->BHJ when a side is small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas boundary (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The testdata's events.parquet stores TIMESTAMP(NANOS); Spark's reader
    # has no nanos type — read as long and convert in the loader (the data
    # is micro-aligned, so `timestamp_micros(ts div 1000)` is lossless).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not necessarily create.

    Shuffle width starts at the session's core count. Input-size-derived
    initial partition counts in [32, 1024] measured a wash (±5%) at sf0.1
    and sf10 (OPTIMIZATION_r11.md), while a wide start costs every stage
    under a persisted frame its full width (AQE cannot coalesce a cached
    plan). initialPartitionNum is set explicitly because, left unset, it
    reads back as None rather than the width AQE starts from.
    """
    for k, v in _RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    cores = str(spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", cores)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores)
    return spark


def _default_driver_memory() -> str:
    """About 3/4 of the host's physical memory, in whole MiB."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{phys * 3 // 4 >> 20}m"


def get_session(app_name: str = "ipes_data_pipeline_spark") -> SparkSession:
    """Build (or reuse) a local session sized to the host.

    ``$SPARK_GRAFT_CPUS`` and ``$SPARK_DRIVER_MEMORY`` override the core
    count (default: every core) and driver heap (default: ~3/4 of RAM).
    On a real cluster the same confs apply; only master/memory change.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
