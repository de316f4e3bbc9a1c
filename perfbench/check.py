"""Correctness checks, run outside the timed region.

Query results are compared with the DuckDB oracle of each registered query
(``ipes_data_pipeline_spark.oracle``), computed once per input build and
kept beside the inputs. The pipeline lake is checked against invariants
pinned to the fixture, not derived from a run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs


def answer_path(answers_dir: str, name: str, sql: str) -> str:
    digest = hashlib.sha256(sql.encode()).hexdigest()[:12]
    return os.path.join(answers_dir, f"{name}-{digest}.pkl")


def ensure_answers(names: list[str], tables_dir: str, answers_dir: str) -> None:
    """Run each query's oracle SQL in DuckDB unless its answer is kept."""
    from ipes_data_pipeline_spark.oracle import run_oracle
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    os.makedirs(answers_dir, exist_ok=True)
    for name in names:
        sql = REGISTRY[name].oracle
        if sql is None:
            raise ValueError(f"{name} has no oracle; the benchmark checks every query")
        path = answer_path(answers_dir, name, sql)
        if not os.path.exists(path):
            run_oracle(sql, tables_dir).to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)


def check_query(name: str, result: pd.DataFrame, answers_dir: str) -> list[str]:
    """Mismatches between a Spark result and the kept oracle answer."""
    from ipes_data_pipeline_spark.oracle import compare
    from ipes_data_pipeline_spark.queries import REGISTRY

    expected = pd.read_pickle(answer_path(answers_dir, name, REGISTRY[name].oracle))
    return compare(result, expected)


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def parquet_rows(files: list[str]) -> int:
    return sum(pq.read_metadata(f).num_rows for f in files)


def written(lake: str, before: set[str]) -> dict[str, dict]:
    """Data files each layer wrote: files, MB and rows, by layer name.

    ``before`` holds the lake's file paths (relative) before the run, so
    the append-only layers count only what this run added.
    """
    layers = {
        "pipeline.bronze": ["bronze"],
        "pipeline.silver": ["silver/companies", "silver/filings"],
        "pipeline.gold": ["gold", "enrichment_cache"],
        "sources.metrics": ["monitoring"],
    }
    out = {}
    for layer, dirs in layers.items():
        files = [
            f
            for d in dirs
            for f in parquet_files(os.path.join(lake, d))
            if os.path.relpath(f, lake) not in before
        ]
        out[layer] = {
            "files_written": len(files),
            "mb_written": sum(os.path.getsize(f) for f in files) / 1e6,
            "rows_out": parquet_rows(files),
        }
    return out


def lake_files(lake: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), lake)
        for d, _, files in os.walk(lake)
        for f in files
    }


def lake_mb(lake: str) -> float:
    return sum(os.path.getsize(os.path.join(lake, f)) for f in lake_files(lake)) / 1e6


def new_cache_names(lake: str, before: set[str]) -> list[str]:
    files = [
        f
        for f in parquet_files(os.path.join(lake, "enrichment_cache"))
        if os.path.relpath(f, lake) not in before
    ]
    return [n for f in files for n in pq.read_table(f, columns=["normalized_name"])
            .column(0).to_pylist()]


def check_lake(lake: str, n_copies: int, new_tags: list[int], before: set[str]) -> list[str]:
    """Fixture-pinned invariants of the lake after one daily run."""
    problems = []
    con = duckdb.connect()
    try:
        def count(sql: str) -> int:
            return con.execute(sql).fetchone()[0]

        comp = f"read_parquet('{lake}/silver/companies/*.parquet')"
        fil = f"read_parquet('{lake}/silver/filings/*.parquet')"
        gold = f"read_parquet('{lake}/gold/*.parquet')"
        n_comp = count(f"SELECT count(*) FROM {comp}")
        n_fil = count(f"SELECT count(*) FROM {fil}")
        if n_comp != inputs.COMPANIES_PER_COPY * n_copies:
            problems.append(f"silver companies: {n_comp}, expected "
                            f"{inputs.COMPANIES_PER_COPY * n_copies}")
        if n_fil != inputs.FILINGS_PER_COPY * n_copies:
            problems.append(f"silver filings: {n_fil}, expected "
                            f"{inputs.FILINGS_PER_COPY * n_copies}")
        n_gold = count(f"SELECT count(*) FROM {gold}")
        if n_gold != n_comp:
            problems.append(f"gold rows {n_gold} != silver companies {n_comp}")
        orphans = count(
            f"SELECT count(*) FROM {fil} f WHERE f.company_id NOT IN (SELECT id FROM {comp})"
        )
        if orphans:
            problems.append(f"{orphans} orphan company_id in silver/filings")
        status, validation = con.execute(
            f"SELECT status, validation FROM read_parquet('{lake}/monitoring/*.parquet') "
            "ORDER BY run_ts DESC LIMIT 1"
        ).fetchone()
        if status != "success":
            problems.append(f"last recorded run status {status!r}")
        invalid = json.loads(validation or "{}").get("invalid_records")
        if invalid != 0:
            problems.append(f"invalid_records = {invalid}")
    except duckdb.IOException as e:  # a layer has no files at all
        problems.append(f"lake not readable: {e}")
    finally:
        con.close()
    names = new_cache_names(lake, before)
    tags = [f"{t:05d}" for t in new_tags]
    if len(names) != inputs.COMPANIES_PER_COPY * len(new_tags):
        problems.append(f"backend called for {len(names)} names, expected "
                        f"{inputs.COMPANIES_PER_COPY * len(new_tags)}")
    stray = [n for n in names if not any(t in n for t in tags)]
    if stray:
        problems.append(f"backend called for names not landed today: {stray[:3]}")
    return problems
