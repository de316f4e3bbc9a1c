"""Batch pipeline driver: bronze → silver → gold in one SparkSession
(reference ``run_pipeline.py:47-89`` — four subprocesses with file
handoff; here stages are lazy DataFrame transforms with Parquet layer
boundaries and lineage instead of files-as-IR).

Parity notes:

- stage skipping (``--skip-fetch`` etc., run_pipeline.py:59-66) →
  ``skip_bronze``/``skip_gold`` flags reuse the materialized layer;
- run telemetry (run_pipeline.py:107-144) → one appended Parquet row
  with REAL per-stage durations (the reference's ``step_metrics`` is
  always empty — SURVEY §2.3.2) + the validation report;
- fail-fast with a failure record (run_pipeline.py:158-166) → the
  except branch records status="failed" before re-raising.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.enrich import successful_cache_rows
from ipes_data_pipeline_spark.operators.validate import (
    company_constraints,
    validate,
    validation_report,
)
from ipes_data_pipeline_spark.pipeline.bronze import flatten_filings
from ipes_data_pipeline_spark.pipeline.gold import build_gold, read_cache
from ipes_data_pipeline_spark.pipeline.silver import structure
from ipes_data_pipeline_spark.schemas import RAW_FILING_NESTED
from ipes_data_pipeline_spark.sources.metrics import record_run


@dataclass
class PipelineResult:
    companies: DataFrame
    filings: DataFrame
    #: None when skip_gold=True and no previously-materialized gold exists
    gold: DataFrame | None
    report: dict
    step_durations: dict[str, float] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    raw_dir: str,
    out_root: str,
    backend: Callable | None = None,
    skip_bronze: bool = False,
    skip_gold: bool = False,
    stats: bool = True,
) -> PipelineResult:
    """Execute the medallion pipeline over a raw-JSON landing dir.

    Layers land under ``out_root``: bronze/, silver/{companies,filings},
    gold/, enrichment_cache/, monitoring/.

    ``backend=None`` enriches through the DeterministicMockBackend —
    fine for tests/smoke runs, but the values are FABRICATED and they
    enter the persistent enrichment cache; a warning is printed so a
    production invocation can't do this silently. Pass a real backend
    callable for real enrichment.
    """
    if backend is None and not skip_gold:
        print(
            "run_pipeline: no enrichment backend configured — gold will be "
            "enriched by DeterministicMockBackend (fabricated values, "
            "cached persistently)"
        )
    paths = {
        k: os.path.join(out_root, k)
        for k in ("bronze", "silver", "gold", "enrichment_cache", "monitoring")
    }
    steps: dict[str, float] = {}
    t_run = time.perf_counter()

    def timed(name: str):
        class _T:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                steps[name] = round(time.perf_counter() - self.t0, 3)

        return _T()

    try:
        if not skip_bronze:
            with timed("bronze"):
                raw = spark.read.schema(RAW_FILING_NESTED).json(raw_dir)
                flatten_filings(raw).write.mode("overwrite").parquet(paths["bronze"])

        with timed("silver"):
            flat = spark.read.parquet(paths["bronze"])
            # persist=True: the two sinks below share the per-entity
            # aggregate (and the whole dedup subtree above it) — cached
            # once instead of executed once per sink
            star = structure(flat, persist=True)
            checked = validate(star.companies, company_constraints())
            checked.valid.write.mode("overwrite").parquet(
                os.path.join(paths["silver"], "companies")
            )
            # FK integrity: the fact table keeps only filings whose
            # company row survived validation — a quarantined company
            # must not leave orphan company_ids in silver/filings (the
            # reference quarantines the whole record, filings included)
            star.filings.join(
                checked.valid.select(F.col("id").alias("company_id")),
                "company_id",
                "left_semi",
            ).write.mode("overwrite").parquet(
                os.path.join(paths["silver"], "filings")
            )
            report = validation_report(checked)
            star.unpersist()

        companies = spark.read.parquet(os.path.join(paths["silver"], "companies"))
        filings = spark.read.parquet(os.path.join(paths["silver"], "filings"))

        if not skip_gold:
            with timed("gold"):
                cache = read_cache(spark, paths["enrichment_cache"])
                out = build_gold(companies, filings, cache, backend=backend)
                out.enriched.write.mode("overwrite").parquet(paths["gold"])
                # failed (all-null) rows must not poison the cache —
                # same guard as the streaming sinks
                successful_cache_rows(out.new_cache_rows).coalesce(1).write.mode(
                    "append"
                ).parquet(paths["enrichment_cache"])
                # enrich_with_cache persists the fresh frame for the two
                # writes above; release it (long-lived sessions calling
                # run_pipeline repeatedly otherwise accumulate cached
                # partitions)
                out.new_cache_rows.unpersist()

        if skip_gold:
            # reuse a previously-materialized gold if one exists (the
            # same contract as skip_bronze reusing bronze); a fresh lake
            # simply has no gold yet — not an error. Any other read
            # failure (corrupt or non-Parquet gold) propagates.
            try:
                gold = spark.read.parquet(paths["gold"])
            except AnalysisException as e:
                if e.getCondition() != "PATH_NOT_FOUND":
                    raise
                gold = None
        else:
            gold = spark.read.parquet(paths["gold"])
        if stats:
            record_run(
                spark,
                paths["monitoring"],
                "success",
                time.perf_counter() - t_run,
                steps,
                report,
            )
        return PipelineResult(companies, filings, gold, report, steps)
    except Exception:
        if stats:
            record_run(
                spark,
                paths["monitoring"],
                "failed",
                time.perf_counter() - t_run,
                steps,
                None,
            )
        raise


def main(argv: list[str] | None = None) -> int:
    """CLI twin of the reference's ``python3 run_pipeline.py``
    (``run_pipeline.py:49-66``): same stage-skipping surface, one Spark
    session instead of one subprocess per stage."""
    import argparse

    from ipes_data_pipeline_spark.session import get_session

    p = argparse.ArgumentParser(description="Run the medallion pipeline.")
    p.add_argument("--raw-dir", required=True, help="raw JSON landing dir")
    p.add_argument("--out", required=True, help="lake root for all layers")
    p.add_argument("--skip-bronze", action="store_true",
                   help="reuse the existing bronze layer (ref --skip-fetch)")
    p.add_argument("--skip-gold", action="store_true",
                   help="stop after silver (ref --skip-download analogue)")
    p.add_argument("--no-stats", action="store_true",
                   help="don't append to the monitoring sink")
    args = p.parse_args(argv)

    spark = get_session("ipes-pipeline")
    res = run_pipeline(
        spark,
        args.raw_dir,
        args.out,
        skip_bronze=args.skip_bronze,
        skip_gold=args.skip_gold,
        stats=not args.no_stats,
    )
    for step, dur in res.step_durations.items():
        print(f"{step}: {dur:.2f}s")
    print(f"companies={res.companies.count()} filings={res.filings.count()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
