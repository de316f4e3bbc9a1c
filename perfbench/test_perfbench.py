"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The smoke tests run each workload once untraced and once traced at the
``tiny`` size (sf0.001-shaped tables, one old and one new fixture copy) and
take a few minutes; the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import check, inputs, run  # noqa: I001 - puts the checkout on sys.path
from ipes_data_pipeline_spark.queries import REGISTRY

SEED = 7


def _bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def smoke() -> dict:
    # untraced first, so the traced runs find an untraced run_s for the overhead
    return {
        (w, t): _bench(w, t) for t in (0, 1) for w in ("queries", "pipeline_cli")
    }


@pytest.mark.parametrize("workload", ["queries", "pipeline_cli"])
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_metric_with_its_unit(smoke, workload, trace, section):
    res = smoke[(workload, trace)]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in run.load_bench_spec()[section]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def test_pipeline_smoke_layers(smoke):
    m = {k: v["value"] for k, v in smoke[("pipeline_cli", 1)]["metrics"].items()}
    old, new = inputs.COPIES["tiny"]
    assert m["operators.enrich.backend_calls"] == inputs.COMPANIES_PER_COPY * new
    assert m["operators.enrich.hit_ratio"] == pytest.approx(old / (old + new))
    assert m["operators.validate.invalid_rows"] == 0
    assert m["pipeline.silver.jobs"] > 0 and m["pipeline.gold.files_written"] > 0


def test_traced_layer_spans_cover_run_without_overlap(smoke):
    path = os.path.join(run.WORK, "traces", f"pipeline_cli-tiny-seed{SEED}.json")
    with open(path) as f:
        sidecar = json.load(f)
    spans = sidecar["spans"]
    root = next(i for i, s in enumerate(spans) if s["name"] == "pipeline.run")
    layers = sorted((s for s in spans if s["parent"] == root), key=lambda s: s["start"])
    assert [s["name"] for s in layers] == run.PIPELINE_LAYERS
    tol = 1e-3
    assert layers[0]["start"] - spans[root]["start"] < tol
    for prev, nxt in zip(layers, layers[1:]):
        assert prev["end"] <= nxt["start"] < prev["end"] + tol
    assert spans[root]["end"] - layers[-1]["end"] < tol
    assert sum(s["wall_s"] for s in layers) == pytest.approx(sidecar["run_s"], abs=0.01)


def _fake_child(report: dict, results: list | None = None, corrupt_op: int | None = None,
                base_lake: str | None = None):
    """A stand-in for ``run.run_child`` that returns ``report`` as the
    client's; for the pipeline it copies ``base_lake`` to each operation's
    lake and breaks the lake of operation ``corrupt_op``."""
    def fake(spec, run_dir, deadline):
        os.makedirs(run_dir, exist_ok=True)
        out = os.path.join(run_dir, "results.pkl")
        if results is not None:
            pd.to_pickle(results, out)
        for i, op in enumerate(report["ops"]):
            if base_lake is not None:
                op["lake"] = spec["lakes"][i]
                shutil.copytree(base_lake, op["lake"])
                if i == corrupt_op:
                    for f in check.parquet_files(os.path.join(op["lake"], "gold")):
                        os.remove(f)
        return {"report": report, "t0": 0.0, "pss_samples_mb": [1.0],
                "problems": [], "results": out}

    return fake


def test_corrupted_query_result_raises_error_rate(smoke, monkeypatch, tmp_path):
    paths = run.build("tiny")
    names = list(run.QUERIES)
    answers = {
        n: pd.read_pickle(check.answer_path(paths["answers"], n, REGISTRY[n].oracle))
        for n in names
    }
    assert all(not check.check_query(n, df, paths["answers"]) for n, df in answers.items())
    corrupted = dict(answers)
    victim = "q14_tpch_q1"
    corrupted[victim] = corrupted[victim].iloc[1:]
    queries = [{"name": n, "build_s": 0.1, "collect_s": 0.1} for n in names]
    ops = [{"kind": kind, "run_s": 1.0, "cpu_s": 1.0, "queries": queries}
           for kind in ("cold", "warm")]
    monkeypatch.setattr(run, "run_child", _fake_child({"ops": ops}, [answers, corrupted]))
    res = run.query_run(paths, [names, names], False, 1.0, str(tmp_path / "r"), 0.0)
    assert res["attempted"] == 2 * len(names) and res["failed"] == 1


def test_corrupted_lake_raises_error_rate(smoke, monkeypatch, tmp_path):
    paths = run.build("tiny")
    # Each operation's "output" is a copy of the previous day's lake, which
    # passes the invariants of a day with no new copies; the second is broken.
    ops = [{"kind": kind, "run_s": 1.0, "cpu_s": 1.0} for kind in ("cold", "warm")]
    monkeypatch.setattr(run, "run_child",
                        _fake_child({"ops": ops}, None, 1, paths["base_lake"]))
    res = run.pipeline_run(paths, "tiny", [], str(tmp_path / "landing"), False,
                           str(tmp_path / "r"), 0.0)
    assert res["attempted"] == 2 and res["failed"] == 1
    assert not ops[0]["failed"] and ops[1]["failed"]


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a, b = inputs.make_tables(), inputs.make_tables()
    assert all(a[k].equals(b[k]) for k in a)
    for d in ("x", "y"):
        inputs.write_landing([0, 5], str(tmp_path / d), seed=3)
    assert (tmp_path / "x" / "filings.jsonl").read_bytes() == (
        tmp_path / "y" / "filings.jsonl"
    ).read_bytes()
    assert inputs.new_tags("full", 1) == inputs.new_tags("full", 1)
    assert not set(inputs.new_tags("full", 1)) & set(inputs.old_tags("full"))


def test_benchmark_json_follows_the_contract():
    spec = run.load_bench_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert 1 <= len(spec["per_layer"]) <= 128
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25
