"""Traced runs: spans around calls into the engine's public functions, and
Spark's own counters read from outside the package.

Nothing inside the package changes. The tracer swaps public functions for
timing wrappers in the modules that reference them, sets one Spark job group
per (pass, operation, phase), and after each pass reads the jobs of each
group from the status tracker and their stages' metrics from the status
store. Timings inside Python workers come back through accumulators.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam

PACKAGE_PREFIX = "hdinsight_pyspark_cntk_integration_spark."
SCORE_COUNTERS = ("load_s", "preprocess_s", "predict_s", "batches", "rows")

# per-pass layer metrics, all reported in a traced run
PER_PASS_METRICS = {
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "sources.load_hit_ratio": "ratio",
    "sources.input_mb": "MB",
    "sources.sink_s": "s",
    "sources.sink_mb": "MB",
    "construct.wall_s": "s",
    "construct.jobs": "count",
    "construct.tasks": "count",
    "construct.share": "ratio",
    "catalyst.plan_s": "s",
    "execute.wall_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.busy_ratio": "ratio",
    "execute.cpu_s": "s",
    "execute.run_s": "s",
    "execute.gc_s": "s",
    "execute.shuffle_write_mb": "MB",
    "execute.shuffle_read_mb": "MB",
    "execute.spill_mb": "MB",
    "execute.failed_tasks": "count",
    "scoring.load_s": "s",
    "scoring.preprocess_s": "s",
    "scoring.predict_s": "s",
    "scoring.boundary_s": "s",
    "scoring.batches": "count",
    "scoring.rows_per_batch": "count",
    "evaluate.wall_s": "s",
}
# layers whose cost falls mostly on a session's first pass (the catalog
# caches loaded tables; planning code is not yet JIT-compiled), so a traced
# run reports them from the cold pass
COLD_METRICS = ("sources.load_s", "sources.load_calls", "sources.load_hit_ratio", "catalyst.plan_s")


class StageSetParam(AccumulatorParam):
    """Accumulates the set of stage ids that ran the scoring function."""

    def zero(self, value):
        return frozenset()

    def addInPlace(self, a, b):
        return frozenset(a) | frozenset(b)


def _timed_loader(loader, acc, stages):
    """Wrap a ``scoring`` model loader: time the load and every predict
    call on the worker, and note the stage each task belongs to."""

    def load():
        from pyspark import TaskContext
        import numpy as np

        ctx = TaskContext.get()
        if ctx is not None:
            stages.add(frozenset([ctx.stageId()]))
        t0 = time.perf_counter()
        predict = loader()
        acc["load_s"].add(time.perf_counter() - t0)

        def timed_predict(batch):
            t = time.perf_counter()
            out = np.asarray(predict(batch))
            acc["predict_s"].add(time.perf_counter() - t)
            acc["batches"].add(1)
            acc["rows"].add(len(batch))
            return out

        return timed_predict

    return load


def _timed_preprocess(preprocess, acc):
    def timed(batch):
        t = time.perf_counter()
        out = preprocess(batch)
        acc["preprocess_s"].add(time.perf_counter() - t)
        return out

    return timed


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Tracer:
    """Spans and Spark counters for one traced run."""

    def __init__(self, spark, entry_module) -> None:
        self.sc = spark.sparkContext
        self.entry = entry_module
        self.pass_id = "setup"
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._acc = {k: self.sc.accumulator(0.0) for k in SCORE_COUNTERS}
        self._stages_acc = self.sc.accumulator(frozenset(), StageSetParam())
        self._patched: list[tuple[object, str, object]] = []
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()

    # --- wrapping public functions ---------------------------------------
    def _patch(self, original, wrapper) -> None:
        """Point every reference to ``original`` in the package's modules
        and the entry module at ``wrapper``."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == self.entry.__name__ or name.startswith(PACKAGE_PREFIX)):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        from hdinsight_pyspark_cntk_integration_spark.operators import scoring
        from hdinsight_pyspark_cntk_integration_spark.sources import catalog, io

        counters = self.counters
        load_table = catalog.load_table

        def traced_load_table(spark, sf_dir, name):
            before = len(catalog._CACHE)
            t0 = time.perf_counter()
            try:
                return load_table(spark, sf_dir, name)
            finally:
                counters["sources.load_s"] += time.perf_counter() - t0
                counters["sources.load_calls"] += 1
                counters["load_misses"] += len(catalog._CACHE) > before

        score = scoring.score
        acc, stages = self._acc, self._stages_acc

        def traced_score(df, model_loader, *args, preprocess=None, **kwargs):
            if preprocess is not None:
                preprocess = _timed_preprocess(preprocess, acc)
            return score(
                df, _timed_loader(model_loader, acc, stages), *args, preprocess=preprocess, **kwargs
            )

        self._patch(load_table, traced_load_table)
        self._patch(score, traced_score)
        for name in ("write_single_csv", "write_parquet", "write_jsonl", "write_orc"):
            self._patch(getattr(io, name), self._traced_sink(getattr(io, name)))

    def _traced_sink(self, sink):
        counters = self.counters

        def traced(df, path, *args, **kwargs):
            t0 = time.perf_counter()
            sink(df, path, *args, **kwargs)
            counters["sources.sink_s"] += time.perf_counter() - t0
            counters["sources.sink_mb"] += _dir_bytes(path) / 1e6

        return traced

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()

    # --- spans ------------------------------------------------------------
    @contextmanager
    def span(self, op: str, phase: str):
        group = f"{self.pass_id}|{op}|{phase}"
        self.sc.setJobGroup(group, f"{op} {phase}", False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"pass": self.pass_id, "op": op, "phase": phase, "group": group,
                 "start": t0, "end": time.perf_counter()}
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def plan(self, op: str, df) -> None:
        """Catalyst analysis, optimization and physical planning of the
        built frame, timed on its own."""
        with self.span(op, "plan"):
            df._jdf.queryExecution().executedPlan()

    # --- Spark counters -----------------------------------------------------
    def _stages(self, stage_ids) -> list[dict]:
        out = []
        for sid in stage_ids:
            attempts = self._store.stageData(
                int(sid), False, self._no_status, False, self._no_quantiles
            )
            out.extend(json.loads(self._mapper.writeValueAsString(attempts)))
        return [s for s in out if s["status"] != "SKIPPED"]

    def _score_snapshot(self) -> dict[str, float]:
        snap = {k: float(a.value) for k, a in self._acc.items()}
        snap["stages"] = set(self._stages_acc.value)
        return snap

    def begin_pass(self, pass_id: str) -> dict:
        self.pass_id = pass_id
        self.counters.clear()
        return self._score_snapshot()

    def end_pass(self, before: dict, cores: int) -> tuple[dict[str, float], list[dict]]:
        """Layer sums of the pass just run, plus its per-operation rows."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        phase_tot: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        stage_run_ms: dict[int, float] = {}
        input_bytes = 0.0
        for span in (s for s in self.spans if s["pass"] == self.pass_id):
            row, tot = per_op[span["op"]], phase_tot[span["phase"]]
            dt = span["end"] - span["start"]
            row[f"{span['phase']}_s"] += dt
            tot["wall_s"] += dt
            jobs = tracker.getJobIdsForGroup(span["group"])
            infos = [tracker.getJobInfo(j) for j in jobs]
            stages = self._stages({s for info in infos if info for s in info.stageIds})
            row[f"{span['phase']}_jobs"] += len(jobs)
            row[f"{span['phase']}_tasks"] += sum(s["numTasks"] for s in stages)
            tot["jobs"] += len(jobs)
            tot["stages"] += len(stages)
            for s in stages:
                stage_run_ms[s["stageId"]] = s["executorRunTime"]
                input_bytes += s["inputBytes"]
                tot["tasks"] += s["numTasks"]
                tot["failed_tasks"] += s["numFailedTasks"]
                tot["cpu_s"] += s["executorCpuTime"] / 1e9
                tot["run_s"] += s["executorRunTime"] / 1e3
                tot["gc_s"] += s["jvmGcTime"] / 1e3
                tot["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
                tot["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
                tot["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6

        after = self._score_snapshot()
        d = {k: after[k] - before[k] for k in SCORE_COUNTERS}
        scoring_stages = after["stages"] - before["stages"]
        scoring_run_s = sum(stage_run_ms.get(s, 0.0) for s in scoring_stages) / 1e3
        con, exe = phase_tot["construct"], phase_tot["execute"]
        calls = self.counters["sources.load_calls"]
        m = {
            "sources.load_s": self.counters["sources.load_s"],
            "sources.load_calls": calls,
            "sources.load_hit_ratio": (calls - self.counters["load_misses"]) / calls if calls else 0.0,
            "sources.input_mb": input_bytes / 1e6,
            "sources.sink_s": self.counters["sources.sink_s"],
            "sources.sink_mb": self.counters["sources.sink_mb"],
            "construct.wall_s": con["wall_s"],
            "construct.jobs": con["jobs"],
            "construct.tasks": con["tasks"],
            "construct.share": con["wall_s"] / (con["wall_s"] + exe["wall_s"])
            if con["wall_s"] + exe["wall_s"]
            else 0.0,
            "catalyst.plan_s": phase_tot["plan"]["wall_s"],
            "execute.busy_ratio": exe["run_s"] / (exe["wall_s"] * cores) if exe["wall_s"] else 0.0,
            "scoring.load_s": d["load_s"],
            "scoring.preprocess_s": d["preprocess_s"],
            "scoring.predict_s": d["predict_s"],
            "scoring.boundary_s": max(
                0.0, scoring_run_s - d["load_s"] - d["preprocess_s"] - d["predict_s"]
            ),
            "scoring.batches": d["batches"],
            "scoring.rows_per_batch": d["rows"] / d["batches"] if d["batches"] else 0.0,
            "evaluate.wall_s": phase_tot["evaluate"]["wall_s"],
        }
        for k in ("wall_s", "jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks"):
            m[f"execute.{k}"] = exe[k]
        rows = [{"op": op, **{k: round(v, 4) for k, v in r.items()}} for op, r in per_op.items()]
        return m, rows
