"""One benchmark run's user process, started as a user starts it.

Run as ``python3 perfbench/client.py <spec.json>``; the spec (written by
``run.py``) names the mode, the inputs and where to put the report.

- ``queries`` mode is an analyst's script: build a session with
  ``session.get_session``, then make passes over the query list, each in
  its own order, calling the registered function of each query and
  collecting its result with ``toPandas()``.
- ``pipeline`` mode is the daily CLI: each operation copies the previous
  day's lake and calls ``pipeline.run.main(["--raw-dir", ..., "--out", ...])``,
  the function ``python -m ipes_data_pipeline_spark.pipeline.run`` runs.

The first operation meets the cold JVM (class loading, JIT compilation),
as a user's first query or a scheduled daily run does. In ``queries`` mode
warm passes follow while the spec's window allows (at least one); a daily
CLI run is one cold operation. In trace mode a warm-up is followed by
exactly one untraced and one traced operation, so the tracing overhead is
measured in the same process.

Untraced, the client only reads the clock and the CPU time of its process
tree around each operation (and around each query's build and collect).
Traced, it also records spans at the layer boundaries, gives each layer
its own Spark job group, and reads the jobs, stages, tasks, task time,
shuffle and spill of each group from the SparkContext status store. The
package is not edited: the traced calls are wrapped from outside.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU time of ``root`` and all its live descendants,
    including what their already-reaped children used."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # the process ended between the listing and the read
            pid = int(entry)
            kids.setdefault(int(fields[1]), []).append(pid)
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / CLK_TCK


class Tracer:
    """Spans in memory: name, start, end, parent; plus per-group counters.

    ``span`` nests by ``with``. ``open_layer`` starts a layer span under the
    root that stays open until the next layer opens (or the root closes),
    and switches the Spark job group to it, so lazy jobs a stage function
    leaves behind are charged to that stage. Wrappers installed around
    package functions record nothing while ``active`` is false.
    """

    def __init__(self):
        self.spark = None
        self.active = False
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.root: int | None = None
        self.layer: int | None = None
        self.counters: dict[str, dict] = {}
        self._seen_stages: set[int] = set()

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    def _open(self, name: str, parent: int | None) -> int:
        self.spans.append({"name": name, "start": self._now(), "end": None, "parent": parent})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        idx = self._open(name, parent)
        self.stack.append(idx)
        try:
            yield idx
        finally:
            self.stack.pop()
            self.spans[idx]["end"] = self._now()

    def wall(self, idx: int) -> float:
        return self.spans[idx]["end"] - self.spans[idx]["start"]

    def open_layer(self, name: str) -> None:
        self.close_layer()
        self.layer = self._open(name, self.root)
        self.stack.append(self.layer)
        self.set_group(name)

    def close_layer(self) -> None:
        if self.layer is not None:
            self.spans[self.layer]["end"] = self._now()
            self.stack.remove(self.layer)
            self.layer = None

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def read_group(self, group: str) -> dict:
        """Status-store counters for the jobs of ``group`` not yet counted."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        c = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
             "task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for job in sc.statusTracker().getJobIdsForGroup(group):
            c["jobs"] += 1
            for sid in _items(store.job(job).stageIds()):
                if sid in self._seen_stages:
                    continue
                for sd in _items(store.stageData(sid, False, no_status, False, no_quantiles)):
                    if sd.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    c["task_run_s"] += sd.executorRunTime() / 1e3
                    c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                    c["spill_mb"] += sd.diskBytesSpilled() / 1e6
        total = self.counters.setdefault(group, dict.fromkeys(c, 0))
        for k, v in c.items():
            total[k] += v
        return c

    def report(self) -> dict:
        spans = []
        for i, s in enumerate(self.spans):
            child = sum(self.wall(j) for j, c in enumerate(self.spans) if c["parent"] == i)
            spans.append({**s, "wall_s": self.wall(i), "self_s": self.wall(i) - child})
        return {"spans": spans, "counters": self.counters}


def _items(seq) -> list:
    """A Scala ``Seq`` as a list, one element call each (the Java converter
    costs a reflective lookup per call)."""
    return [seq.apply(i) for i in range(seq.length())]


def confs(spark) -> dict:
    """The session settings a default change would show up in."""
    return {
        "master": spark.sparkContext.master,
        "initial_partitions": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        ),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


def timed_ops(spec: dict, step) -> list[dict]:
    """Run ``step(i, kind)`` for each operation of the run.

    The first operation meets the cold JVM; warm ones follow while the next
    is expected to end inside the window, until there are ``min_ops`` at
    least and ``max_ops`` at most. Traced, the run is a warm-up, one
    untraced and one traced operation.
    """
    if spec["trace"]:
        return [step(0, "warmup"), step(1, "untraced"), step(2, "traced")]
    ops: list[dict] = []
    t_begin = time.perf_counter()
    while len(ops) < spec["max_ops"] and not (ops and "error" in ops[-1]):
        t = time.perf_counter()
        ops.append(step(len(ops), "warm" if ops else "cold"))
        spent = time.perf_counter() - t
        expected_end = time.perf_counter() - t_begin + spent
        if len(ops) >= spec["min_ops"] and expected_end > spec["window_s"]:
            break
    return ops


def run_queries(spec: dict, report: dict) -> None:
    from ipes_data_pipeline_spark.queries import REGISTRY, TABLES, load_all
    from ipes_data_pipeline_spark.session import get_session

    tracer = Tracer()
    t = time.perf_counter()
    spark = get_session("perfbench-queries")
    report["get_session_s"] = time.perf_counter() - t
    load_all()
    tables = spec["tables"]
    for name in TABLES:
        spark.read.parquet(os.path.join(tables, f"{name}.parquet")).schema
    report["setup_end"] = time.time()
    report["confs"] = confs(spark)
    tracer.spark = spark
    me = os.getpid()
    results: list[dict] = []

    def one_pass(i: int, kind: str) -> dict:
        tracer.active = kind == "traced"
        out, queries = {}, []
        cpu0, t_pass = tree_cpu_s(me), time.perf_counter()
        for name in spec["orders"][i]:
            q = {"name": name}
            try:
                if tracer.active:
                    tracer.set_group(name)
                    with tracer.span(f"query:{name}"):
                        with tracer.span("build") as build:
                            df = REGISTRY[name].spark(spark, tables)
                        with tracer.span("collect") as collect:
                            out[name] = df.toPandas()
                    q["build_s"] = tracer.wall(build)
                    q["collect_s"] = tracer.wall(collect)
                    q["counters"] = tracer.read_group(name)
                else:
                    a = time.perf_counter()
                    df = REGISTRY[name].spark(spark, tables)
                    b = time.perf_counter()
                    out[name] = df.toPandas()
                    q["build_s"], q["collect_s"] = b - a, time.perf_counter() - b
            except Exception:  # one failed query must not stop the pass
                q["error"] = traceback.format_exc()
            queries.append(q)
        op = {"kind": kind, "run_s": time.perf_counter() - t_pass,
              "cpu_s": tree_cpu_s(me) - cpu0, "queries": queries}
        results.append(out)
        return op

    report["ops"] = timed_ops(spec, one_pass)
    with open(spec["results"], "wb") as f:
        pickle.dump(results, f)
    report["trace"] = tracer.report()


def run_pipeline_cli(spec: dict, report: dict) -> None:
    import ipes_data_pipeline_spark.session as session_mod
    from ipes_data_pipeline_spark.pipeline import run as run_mod

    tracer = Tracer()
    orig_get_session, orig_run = session_mod.get_session, run_mod.run_pipeline
    me = os.getpid()
    current: dict = {}

    def get_session(*args, **kwargs):
        t = time.perf_counter()
        spark = orig_get_session(*args, **kwargs)
        if "setup_end" not in report:
            report["get_session_s"] = time.perf_counter() - t
            report["setup_end"] = time.time()
            report["confs"] = confs(spark)
            tracer.spark = spark
        return spark

    def run_pipeline(*args, **kwargs):
        cpu0, t = tree_cpu_s(me), time.perf_counter()
        if tracer.active:
            with tracer.span("pipeline.run") as root:
                tracer.root = root
                tracer.open_layer("pipeline.bronze")
                try:
                    res = orig_run(*args, **kwargs)
                finally:
                    tracer.close_layer()
            tracer.set_group("cli")
        else:
            res = orig_run(*args, **kwargs)
        current["run_s"] = time.perf_counter() - t
        current["cpu_s"] = tree_cpu_s(me) - cpu0
        current["invalid_records"] = res.report.get("invalid_records")
        return res

    session_mod.get_session, run_mod.run_pipeline = get_session, run_pipeline
    _trace_pipeline_layers(tracer)

    def one_run(i: int, kind: str) -> dict:
        tracer.active = kind == "traced"
        lake = spec["lakes"][i]
        if spec["base_lake"]:
            shutil.copytree(spec["base_lake"], lake)
        current.clear()
        op = {"kind": kind, "lake": lake}
        try:
            rc = run_mod.main(["--raw-dir", spec["raw_dir"], "--out", lake])
            if rc:
                op["error"] = f"the CLI returned {rc}"
        except Exception:
            op["error"] = traceback.format_exc()
        op.update(current)
        if tracer.active:
            for layer in [s["name"] for s in tracer.spans if s["parent"] == tracer.root]:
                tracer.read_group(layer)
        return op

    report["ops"] = timed_ops(spec, one_run)
    report["trace"] = tracer.report()


def _trace_pipeline_layers(tracer: Tracer) -> None:
    """Wrap the names ``pipeline.run`` (and its stages) call, from outside."""
    from ipes_data_pipeline_spark.operators import enrich
    from ipes_data_pipeline_spark.pipeline import run as run_mod
    from ipes_data_pipeline_spark.pipeline import silver

    def layer(mod, fn_name: str, layer_name: str):
        fn = getattr(mod, fn_name)

        def wrapped(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tracer.open_layer(layer_name)
            with tracer.span(f"{layer_name}.{fn_name}"):
                return fn(*args, **kwargs)

        setattr(mod, fn_name, wrapped)

    def child(mod, fn_name: str, span_name: str):
        fn = getattr(mod, fn_name)

        def wrapped(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        setattr(mod, fn_name, wrapped)

    layer(run_mod, "structure", "pipeline.silver")
    layer(run_mod, "read_cache", "pipeline.gold")
    layer(run_mod, "record_run", "sources.metrics")
    child(run_mod, "flatten_filings", "pipeline.bronze.flatten_filings")
    child(run_mod, "validate", "operators.validate")
    child(run_mod, "build_gold", "pipeline.gold.build_gold")
    child(silver, "dedupe_fuzzy", "operators.dedup_fuzzy")
    child(enrich, "enrich_misses", "operators.enrich")


def main(argv: list[str]) -> int:
    with open(argv[0]) as f:
        spec = json.load(f)
    report: dict = {}
    rc = 0
    try:
        if spec["mode"] == "queries":
            run_queries(spec, report)
        else:
            run_pipeline_cli(spec, report)
    except Exception:  # the run failed: say so in the report, exit non-zero
        report["error"] = traceback.format_exc()
        rc = 1
    with open(spec["report"], "w") as f:
        json.dump(report, f)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
