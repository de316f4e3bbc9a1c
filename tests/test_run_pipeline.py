"""End-to-end batch pipeline driver: stages, telemetry, layer reuse."""

from __future__ import annotations

import json

import pytest

from ipes_data_pipeline_spark.pipeline.run import run_pipeline
from ipes_data_pipeline_spark.sources.metrics import latest_run, run_history
from tests.fixtures import RAW_FILINGS


def test_run_pipeline_end_to_end(spark, tmp_path):
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    with open(raw_dir / "filings.jsonl", "w") as f:
        for r in RAW_FILINGS:
            f.write(json.dumps(r) + "\n")
    out_root = str(tmp_path / "lake")

    res = run_pipeline(spark, str(raw_dir), out_root)
    n_companies = res.companies.count()
    assert n_companies > 0
    assert res.gold.count() == n_companies
    assert res.report["invalid_records"] == 0
    assert res.report["valid_records"] == n_companies
    # real per-stage durations (the reference's step_metrics is always {})
    assert set(res.step_durations) == {"bronze", "silver", "gold"}
    assert all(v > 0 for v in res.step_durations.values())

    last = latest_run(spark, f"{out_root}/monitoring")
    assert last["status"] == "success"
    assert set(last["steps"]) == {"bronze", "silver", "gold"}

    # layer reuse (I2): skip bronze, rebuild silver+gold from the parquet
    # layer; enrichment served from the warmed cache (exploding backend
    # would null out enrichment columns if it were ever invoked)
    def exploding_backend(name, dockets):
        raise AssertionError("warm cache must serve the second run")

    res2 = run_pipeline(
        spark, str(raw_dir), out_root, backend=exploding_backend, skip_bronze=True
    )
    assert res2.companies.count() == n_companies
    assert "bronze" not in res2.step_durations
    gold2 = {r["id"]: r for r in res2.gold.collect()}
    assert all(r["industry_segment"] is not None for r in gold2.values())
    assert run_history(spark, f"{out_root}/monitoring").count() == 2


def test_skip_gold_on_fresh_lake_succeeds(spark, tmp_path):
    """--skip-gold on a lake with no previously-materialized gold must
    complete (gold=None), not crash after doing all the silver work —
    and a later full run picks up from the same layers."""
    import json
    import os

    from ipes_data_pipeline_spark.pipeline.run import run_pipeline
    from tests.fixtures import RAW_FILINGS

    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    with open(raw_dir / "filings.jsonl", "w") as f:
        for rec in RAW_FILINGS:
            f.write(json.dumps(rec) + "\n")
    out = str(tmp_path / "lake")
    res = run_pipeline(spark, str(raw_dir), out, skip_gold=True, stats=False)
    assert res.gold is None
    assert res.companies.count() > 0
    assert not os.path.exists(os.path.join(out, "gold"))
    # follow-up full run completes and gold materializes
    res2 = run_pipeline(
        spark, str(raw_dir), out, skip_bronze=True, stats=False
    )
    assert res2.gold is not None and res2.gold.count() == res2.companies.count()


def test_skip_gold_raises_on_unreadable_gold(spark, tmp_path):
    """--skip-gold treats only a MISSING gold layer as "no gold yet"; a
    gold path that exists but is not Parquet must fail the run."""
    import os

    from py4j.protocol import Py4JJavaError

    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    with open(raw_dir / "filings.jsonl", "w") as f:
        for rec in RAW_FILINGS:
            f.write(json.dumps(rec) + "\n")
    out = str(tmp_path / "lake")
    os.makedirs(os.path.join(out, "gold"))
    with open(os.path.join(out, "gold", "part-0.parquet"), "w") as f:
        f.write("not parquet")
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        run_pipeline(spark, str(raw_dir), out, skip_gold=True, stats=False)
