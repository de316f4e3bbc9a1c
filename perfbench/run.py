"""The repository benchmark.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 35 --trace 0

Workloads (see perfbench/README.md for the reasons and the metric map):

- ``queries``: one analyst process, one closed-loop client. It makes
  passes over 6 short relational queries and 5 compute-heavy curation
  queries, each pass in its own seeded order, each query built by its
  registered function and collected.
- ``pipeline_cli``: the daily bronze -> silver -> gold run, as the CLI runs
  it, over a copy of the lake the previous day's run left; two fixture
  copies (seeded) are new today.

A run is one fresh user process, started the way a user starts it, with
only ``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS`` and ``PYTHONPATH`` set for
the engine (plus temp dirs pointed into the work area). Its first
operation meets the cold JVM. ``queries`` follows its cold pass with warm
passes while the next is expected to end within ``--seconds`` (at least
one); ``pipeline_cli`` is one cold daily run. ``run_s`` and ``cpu_s`` are
the cold operation's plus the median warm pass's; ``setup_s`` is the
process start until the session is ready. Every operation's output is
checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the warm-up,
one untraced and one traced operation, prints the per-layer metrics of the
traced one with the tracing overhead, and writes the spans, self times and
status-store counters as JSON under ``perfbench/.work/traces``. The last
line of standard output is the JSON result.

Inputs, oracle answers and the previous day's lake are built once per
checkout under ``perfbench/.work`` (the first run takes a few minutes).
"""

from __future__ import annotations

import argparse
import ctypes
import ctypes.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
sys.path.insert(0, ROOT)

from perfbench import check, inputs  # noqa: E402

#: Query -> the ``queries`` module that registers it. A subset of the
#: relational and curation surfaces that covers every registering module and
#: the main operator families of the curation queries (fuzzy and MinHash
#: dedup, near-duplicate resolution, text scoring, vector retrieval), small
#: enough that a cold and a warm pass fit into a run.
RELATIONAL = {
    "q14_tpch_q1": "relational",
    "q25_star_join": "relational",
    "q108_zscore_anomaly": "mixing",
    "q143_retention_cohorts": "extras",
    "q150_scd2_merge": "dataops",
    "q152_tpch_q5_shape": "tpch_shapes",
}
CURATION = {
    "q39p_fuzzy_dedup_capped": "relational",
    "q42p_dedup_minhash_deployed": "dataops",
    "q92_neardup_resolution": "prep",
    "q144_bigram_lm_score": "curation",
    "q162p_sq8_ann_scalable": "retrieval",
}
QUERIES = {**RELATIONAL, **CURATION}
MODULES = sorted(set(QUERIES.values()))
QUERY_METRICS = ["build_s", "collect_s", "jobs", "stages", "tasks", "task_run_s",
                 "task_cpu_s", "shuffle_write_mb", "spill_mb"]
PIPELINE_LAYERS = ["pipeline.bronze", "pipeline.silver", "pipeline.gold", "sources.metrics"]
PIPELINE_METRICS = ["wall_s", "jobs", "tasks", "task_run_s", "task_cpu_s",
                    "shuffle_write_mb", "spill_mb", "files_written", "mb_written", "rows_out"]
WORKLOADS = ("queries", "pipeline_cli")

#: Environment a user's shell may carry that the CLI never sets.
UNSET_ENV = ("SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEMORY")
RUN_DEADLINE_S = 165.0
#: Query orders prepared per run; far more passes than a run's window holds.
MAX_PASSES = 24
PR_SET_CHILD_SUBREAPER = 36


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "ipes_data_pipeline_spark", "__init__.py"))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --- build (once per checkout) ------------------------------------------------


def _build_key(size: str) -> str:
    import hashlib

    with open(inputs.__file__, "rb") as f:
        return hashlib.sha256(f.read() + size.encode()).hexdigest()[:16]


def build(size: str) -> dict:
    """Inputs, oracle answers and the previous day's lake for ``size``."""
    base = os.path.join(WORK, size)
    paths = {
        "tables": os.path.join(base, "tables"),
        "answers": os.path.join(base, "answers"),
        "landing_old": os.path.join(base, "landing_old"),
        "base_lake": os.path.join(base, "base_lake"),
    }
    marker = os.path.join(base, "BUILT")
    key = _build_key(size)
    if not (os.path.exists(marker) and open(marker).read() == key):
        log(f"building {size} inputs under {base}")
        shutil.rmtree(base, ignore_errors=True)
        inputs.write_tables(paths["tables"])
        old = inputs.old_tags(size)
        inputs.write_landing(old, paths["landing_old"])
        run_dir = os.path.join(base, "base_run")
        spec = {"mode": "pipeline", "trace": False, "raw_dir": paths["landing_old"],
                "base_lake": None, "lakes": [paths["base_lake"]], "window_s": 0,
                "min_ops": 1, "max_ops": 1}
        run = run_child(spec, run_dir, time.perf_counter() + 600)
        problems = run["problems"] or check.check_lake(
            paths["base_lake"], len(old), old, set()
        )
        if problems:
            raise RuntimeError(f"building the previous day's lake failed: {problems}")
        shutil.rmtree(run_dir)
        with open(marker, "w") as f:
            f.write(key)
    check.ensure_answers(list(QUERIES), paths["tables"], paths["answers"])
    return paths


# --- one run: a fresh user process --------------------------------------------


def child_env(run_dir: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in UNSET_ENV and not k.startswith("SPARK_GRAFT_BENCH_")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        # the JVM's perf-data file would otherwise go to /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def tree_pss_mb(root: int) -> float:
    """Proportional resident memory of ``root`` and all its descendants
    (pages shared by forked Python workers count once in total)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            pass  # the process ended between the listing and the read
        todo.extend(kids.get(pid, []))
    return kb / 1e3


def become_subreaper() -> None:
    """Make orphaned descendants of a run re-parent to this process.

    The JVM outlives its Python driver by a moment; as our child it can be
    waited for before the run ends.
    """
    libc = ctypes.CDLL(ctypes.util.find_library("c"), use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap(pgid: int, grace_s: float = 10.0) -> None:
    """Wait until every process of a run has ended; kill what outlives the grace."""
    end = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > end:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_child(spec: dict, run_dir: str, deadline: float) -> dict:
    """Run ``client.py`` on ``spec`` in a fresh process group.

    Returns the client's report, its start time, memory samples of the
    process tree and any problem with the process itself.
    """
    os.makedirs(run_dir, exist_ok=True)
    spec = {**spec, "report": os.path.join(run_dir, "report.json"),
            "results": os.path.join(run_dir, "results.pkl")}
    with open(os.path.join(run_dir, "spec.json"), "w") as f:
        json.dump(spec, f)
    samples: list[float] = []
    problems = []
    with open(os.path.join(run_dir, "client.log"), "w") as out:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "client.py"),
             os.path.join(run_dir, "spec.json")],
            cwd=run_dir, env=child_env(run_dir), stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        done = threading.Event()

        def sample():
            while not done.wait(0.5):
                samples.append(tree_pss_mb(proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            rc = None
            problems.append("the client did not finish before the run's deadline")
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        done.set()
        sampler.join()
        _reap(proc.pid)
    report = {}
    if os.path.exists(spec["report"]):
        with open(spec["report"]) as f:
            report = json.load(f)
    if rc not in (0, None) or "error" in report:
        problems.append(f"the client exited {rc}: {report.get('error', '')[-2000:]}")
    return {"report": report, "t0": t0, "pss_samples_mb": samples or [0.0],
            "problems": problems, "results": spec["results"]}


# --- workloads ---------------------------------------------------------------


def query_run(paths: dict, orders: list[list[str]], trace: bool, window_s: float,
              run_dir: str, deadline: float) -> dict:
    """One analyst process: a cold pass, then warm passes (``orders[i]`` is
    the query order of pass ``i``). Every pass's results are checked."""
    spec = {"mode": "queries", "trace": trace, "tables": paths["tables"], "orders": orders,
            "window_s": window_s, "min_ops": 2, "max_ops": len(orders)}
    run = run_child(spec, run_dir, deadline)
    ops = run["report"].get("ops", [])
    results = pd.read_pickle(run["results"]) if os.path.exists(run["results"]) else []
    attempted, failed = 0, 0
    for op, out in zip(ops, results):
        for q in op["queries"]:
            attempted += 1
            name = q["name"]
            if "error" in q:
                log(f"{name} failed:\n{q['error'][-1500:]}")
                q["failed"] = True
            elif problems := check.check_query(name, out[name], paths["answers"]):
                log(f"{name} does not match its oracle: {problems}")
                q["failed"] = True
            failed += q.get("failed", False)
    for p in run["problems"]:
        log(p)
    if run["problems"]:
        attempted = max(attempted, len(orders[0]))
        failed = attempted
    return {**run, "ops": ops, "attempted": attempted, "failed": failed}


def pipeline_run(paths: dict, size: str, tags: list[int], landing: str, trace: bool,
                 run_dir: str, deadline: float) -> dict:
    """One CLI process: a cold daily run on a copy of the previous day's
    lake (traced: three runs, each on its own copy). Every lake is checked."""
    lakes = [os.path.join(run_dir, f"lake{i}") for i in range(3)]
    spec = {"mode": "pipeline", "trace": trace, "raw_dir": landing,
            "base_lake": paths["base_lake"], "lakes": lakes,
            "window_s": 0, "min_ops": 1, "max_ops": 1}
    run = run_child(spec, run_dir, deadline)
    ops = run["report"].get("ops", [])
    before = check.lake_files(paths["base_lake"])
    n_copies = len(inputs.old_tags(size)) + len(tags)
    failed = 0
    for op in ops:
        problems = [op["error"]] if "error" in op else check.check_lake(
            op["lake"], n_copies, tags, before)
        for p in problems:
            log(f"pipeline_cli: {p}")
        op["failed"] = bool(problems)
        failed += op["failed"]
        if not problems:
            op["layers_written"] = check.written(op["lake"], before)
            op["lake_mb"] = check.lake_mb(op["lake"])
            op["backend_calls"] = len(check.new_cache_names(op["lake"], before))
            op["gold_rows"] = check.parquet_rows(
                check.parquet_files(os.path.join(op["lake"], "gold")))
    for p in run["problems"]:
        log(f"pipeline_cli: {p}")
    attempted = max(len(ops), 1)
    if run["problems"]:
        failed = attempted
    return {**run, "ops": ops, "attempted": attempted, "failed": failed}


def end_to_end(run: dict) -> dict:
    """The end-to-end metrics: the cold operation plus the median warm one."""
    cold, *warm = run["ops"]
    m = {"setup_s": run["report"]["setup_end"] - run["t0"],
         "run_s": cold["run_s"], "cpu_s": cold["cpu_s"]}
    if warm:
        m["run_s"] += statistics.median(op["run_s"] for op in warm)
        m["cpu_s"] += statistics.median(op["cpu_s"] for op in warm)
    return m


def per_layer(run: dict) -> dict:
    """The per-layer metrics, from the run's traced operation."""
    rep = run["report"]
    op = next(o for o in run["ops"] if o["kind"] == "traced")
    untraced = next(o for o in run["ops"] if o["kind"] == "untraced")
    confs = rep["confs"]
    mem = confs["driver_memory"].lower()
    m = {
        "session.get_session_s": rep["get_session_s"],
        "session.initial_partitions": float(confs["initial_partitions"]),
        "session.shuffle_partitions": float(confs["shuffle_partitions"]),
        "session.driver_memory_gb": float(mem[:-1]) / (1024 if mem.endswith("m") else 1),
        "session.peak_pss_mb": max(run["pss_samples_mb"]),
    }
    for mod in MODULES:
        for k in QUERY_METRICS:
            m[f"queries.{mod}.{k}"] = 0.0
    for q in op.get("queries", []):
        mod = QUERIES[q["name"]]
        m[f"queries.{mod}.build_s"] += q["build_s"]
        m[f"queries.{mod}.collect_s"] += q["collect_s"]
        for k, v in q["counters"].items():
            m[f"queries.{mod}.{k}"] += v
    spans = rep["trace"]["spans"]
    counters = rep["trace"]["counters"]
    written = op.get("layers_written", {})
    for layer in PIPELINE_LAYERS:
        c = counters.get(layer, {})
        w = written.get(layer, {})
        m[f"{layer}.wall_s"] = sum((s["wall_s"] for s in spans if s["name"] == layer), 0.0)
        for k in PIPELINE_METRICS[1:7]:
            m[f"{layer}.{k}"] = float(c.get(k, 0))
        for k in PIPELINE_METRICS[7:]:
            m[f"{layer}.{k}"] = float(w.get(k, 0))
    m["pipeline.lake_mb"] = op.get("lake_mb", 0.0)
    m["operators.dedup_fuzzy.call_s"] = sum(
        (s["wall_s"] for s in spans if s["name"] == "operators.dedup_fuzzy"), 0.0
    )
    calls, gold = op.get("backend_calls", 0), op.get("gold_rows", 0)
    m["operators.enrich.backend_calls"] = float(calls)
    m["operators.enrich.hit_ratio"] = (gold - calls) / gold if gold else 0.0
    m["operators.validate.invalid_rows"] = float(op.get("invalid_records") or 0)
    m["trace.overhead_s"] = op["run_s"] - untraced["run_s"]
    return m


def self_times(spans: list[dict]) -> dict:
    """Self time per span name; a query's build and collect are keyed by the
    module that registers the query (``queries.<module>.build``)."""
    out: dict[str, float] = {}
    for s in spans:
        name, parent = s["name"], s["parent"]
        if parent is not None and spans[parent]["name"].startswith("query:"):
            name = f"queries.{QUERIES[spans[parent]['name'].removeprefix('query:')]}.{name}"
        out[name] = out.get(name, 0.0) + s["self_s"]
    return out


def load_bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def write_sidecar(args, run: dict, values: dict) -> None:
    traced = next(o for o in run["ops"] if o["kind"] == "traced")
    untraced = next(o for o in run["ops"] if o["kind"] == "untraced")
    sidecar = os.path.join(WORK, "traces", f"{args.workload}-{args.size}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(sidecar), exist_ok=True)
    spans = run["report"]["trace"]["spans"]
    with open(sidecar, "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "confs": run["report"]["confs"],
            "layers": values,
            "tracing_overhead": {
                "traced_run_s": traced["run_s"],
                "untraced_run_s": untraced["run_s"],
                "overhead_s": values["trace.overhead_s"],
            },
            "run_s": traced["run_s"],
            "self_s": self_times(spans),
            "spans": spans,
            "counters": run["report"]["trace"]["counters"],
        }, f, indent=1)
    log(f"trace sidecar: {sidecar}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(inputs.COPIES), default="full",
                   help="input size; 'tiny' is for the benchmark's own smoke tests")
    args = p.parse_args(argv)
    if not package_present():
        log(f"ipes_data_pipeline_spark not found under {ROOT}: nothing to benchmark")
        return 2
    spec = load_bench_spec()
    become_subreaper()
    paths = build(args.size)
    deadline = time.perf_counter() + RUN_DEADLINE_S
    trace = bool(args.trace)
    rng = np.random.default_rng(args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        if args.workload == "queries":
            orders = [[str(q) for q in rng.permutation(list(QUERIES))] for _ in range(MAX_PASSES)]
            run = query_run(paths, orders, trace, args.seconds, run_dir, deadline)
        else:
            tags = inputs.new_tags(args.size, args.seed)
            landing = os.path.join(run_dir, "landing")
            inputs.write_landing(inputs.old_tags(args.size) + tags, landing, seed=args.seed)
            run = pipeline_run(paths, args.size, tags, landing, trace, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ok = run["failed"] == 0 and bool(run["ops"])
    result = {"correct": ok, "attempted": run["attempted"], "failed": run["failed"],
              "metrics": {}}
    if ok:
        confs = run["report"]["confs"]
        print("session: " + " ".join(f"{k}={v}" for k, v in confs.items()), flush=True)
        section = "per_layer" if trace else "end_to_end"
        values = per_layer(run) if trace else end_to_end(run)
        units_of = {m["name"]: m["unit"] for m in spec[section]}
        result["metrics"] = {k: {"value": values[k], "unit": units_of[k]} for k in units_of}
        if trace:
            write_sidecar(args, run, values)
        log("operations: "
            + " ".join(f"{op['kind']} {op['run_s']:.2f} s" for op in run["ops"]))
    for name, v in result["metrics"].items():
        log(f"  {name:44s} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
