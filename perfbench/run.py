"""Benchmark of the engine: one workload per run, in a fresh local Spark
session, closed loop with one client.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 6 --trace 0

A run builds the workload's inputs, starts the session and warms it, runs one
cold pass, one verified pass that collects every result for the correctness
check, and warm-up passes until one is within 10% of the one before it; that
pass opens the measured window of steady passes, which lasts ``--seconds``.
Every pass runs each operation once, in an order drawn from ``--seed``. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` steady passes alternate between untraced and traced and it
carries the per-layer metrics. The line before it is a JSON detail record
(run context, per-pass and per-operation timings, correctness messages).

Set-up and pass times are wall times net of the hypervisor's steal (see
``helpers.net_of_steal``): on a shared host, steal comes and goes over
minutes and moved whole runs by a quarter. The detail record keeps the raw
wall, CPU and steal seconds of every timed span.

Everything the run writes goes to a work directory under the repository
root, removed at exit. The run exits with code 2, printing no result, when
the engine's sources are not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "hdinsight_pyspark_cntk_integration_spark"  # the engine's package
SETUP_REPEATS = 3  # input builds that are set-up work; setup_s takes their median
STOP_TIMEOUT_S = 60
ABBA = 4  # minimum passes of a traced run: untraced, traced, traced, untraced
WARMUP_TOLERANCE = 0.10
MAX_WARMUP = 8  # warm-up passes before a run that has not settled counts as failed

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "cpu_s": "s"}


def _isolate(work: Path) -> None:
    """Point every temporary and output path at ``work`` and let Python
    workers import the engine. Runs before pyspark is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    for sub in ("tmp", "local"):
        (work / sub).mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))


def _session_conf(work: Path) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _warm_up(spark) -> None:
    """First job, code generation and one Python worker per core."""
    spark.range(1000).selectExpr("sum(id)").collect()
    par = spark.sparkContext.defaultParallelism

    def passthrough(batches):
        yield from batches

    spark.range(par).repartition(par).mapInPandas(passthrough, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _stop(spark) -> None:
    """Stop Spark, end its JVM and wait for every process it started."""
    from perfbench.helpers import process_tree

    me = os.getpid()
    started = set(process_tree(me)) - {me}
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=STOP_TIMEOUT_S)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while (alive := {p for p in started if os.path.exists(f"/proc/{p}")}) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


class Run:
    def __init__(self, args, work: Path) -> None:
        from perfbench.helpers import Outcomes, pass_orders
        from perfbench.workloads import WORKLOADS

        self.args, self.work = args, work
        self.workload = WORKLOADS[args.workload]()
        self.outcomes = Outcomes()
        self._orders = pass_orders(self.workload.names, args.seed)
        self.passes: list[dict] = []

    def _pass(self, kind: str, tracer=None) -> float:
        from perfbench.helpers import Meter

        order = next(self._orders)
        label = f"{kind}{len(self.passes)}"
        if tracer is not None:
            tracer.install()
            before = tracer.begin_pass(label)
        per_op = {}
        meter = Meter(os.getpid())
        for op in order:
            t = time.perf_counter()
            try:
                ok, msg = self.workload.run(self.spark, op, tracer), "wrong counts"
            except Exception as exc:  # a failed operation is counted, not fatal
                ok, msg = False, repr(exc)[:300]
            self.outcomes.record(ok, f"{label} {op}: {msg}")
            per_op[op] = round(time.perf_counter() - t, 4)
        rec = {"pass": label, **meter.read(), "ops": per_op}
        if tracer is not None:
            tracer.uninstall()
            rec["layers"], rec["op_layers"] = tracer.end_pass(before, self.cores)
        self.passes.append(rec)
        return rec["net_s"]

    def _verified_pass(self) -> float:
        t0 = time.perf_counter()
        for op in next(self._orders):
            try:
                self.workload.collect(self.spark, op)
            except Exception as exc:
                self.outcomes.record(False, f"verify {op}: {repr(exc)[:300]}")
        return time.perf_counter() - t0

    def execute(self) -> tuple[dict, dict]:
        from perfbench.helpers import Meter, host_steal_s, summarize, tree_cpu_s, tree_peak_rss_mb

        args, me = self.args, os.getpid()
        steal0 = host_steal_s()
        builds = []
        for _ in range(SETUP_REPEATS if self.workload.build_in_setup else 1):
            meter = Meter(me)
            sizes = self.workload.build(str(self.work), args.seed)
            builds.append(meter.read())
        fixture_s = statistics.median(b["net_s"] for b in builds)

        meter = Meter(me)
        from hdinsight_pyspark_cntk_integration_spark import get_spark

        self.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_session_conf(self.work))
        try:
            self.spark.sparkContext.setLogLevel("ERROR")
            start = meter.read()
            meter = Meter(me)
            _warm_up(self.spark)
            self.workload.prepare(self.spark)
            warm = meter.read()
            start_s, warm_s = start["net_s"], warm["net_s"]
            self.cores = self.spark.sparkContext.defaultParallelism

            tracer = None
            if args.trace:
                import __spark_entry__

                from perfbench.layers import Tracer

                tracer = Tracer(self.spark, __spark_entry__)

            cold_s = self._pass("cold", tracer)
            verified_s = self._verified_pass()

            # Warm-up: untraced passes until one is within WARMUP_TOLERANCE
            # of the one before it, a pass of the same kind. That pass is
            # the first steady one and opens the measured window of
            # --seconds. A run that has not settled after MAX_WARMUP passes
            # counts as failed.
            prev, steady = self._pass("warm"), False
            for _ in range(MAX_WARMUP - 1):
                cpu0, t_start = tree_cpu_s(me), time.perf_counter()
                net = self._pass("steady")
                if abs(net - prev) <= WARMUP_TOLERANCE * prev:
                    steady = True
                    break
                self.passes[-1]["pass"] = f"warm{len(self.passes) - 1}"
                prev = net
            warmups = sum(p["pass"].startswith("warm") for p in self.passes)
            if not steady:
                self.outcomes.record(False, f"not steady after {warmups} warm-up passes")
            # A traced run goes on with ABBA blocks of untraced and traced
            # passes, which cancel a linear trend out of the tracing overhead.
            untraced, traced = [net], []
            while (
                (tracer is not None and len(untraced) + len(traced) < ABBA)
                or time.perf_counter() - t_start < args.seconds
            ):
                if tracer is not None and (len(untraced) + len(traced)) % ABBA in (1, 2):
                    traced.append(self._pass("traced", tracer))
                else:
                    untraced.append(self._pass("steady"))
            cpu_s = (tree_cpu_s(me) - cpu0) / (len(untraced) + len(traced))

            from perfbench.workloads import import_script

            calibration = import_script("bench")._calibration_probe(self.spark)
            driver_mem = self.spark.conf.get("spark.driver.memory")
            jvm_rss = tree_peak_rss_mb(me, ["java"])
            py_rss = tree_peak_rss_mb(me, ["python"])
        finally:
            t0 = time.perf_counter()
            _stop(self.spark)
            stop_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for op, ok, msg in self.workload.verify():
            self.outcomes.record(ok, f"verify {op}: {msg}")
        verify_s = time.perf_counter() - t0

        pass_s = statistics.median(untraced)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "context": _context(sizes, driver_mem, calibration),
            "host_steal_s": host_steal_s() - steal0,
            "setup": {"fixture_builds": builds, "session_start": start, "warm": warm},
            "cold_pass_s": cold_s,
            "verified_pass_s": verified_s,
            "warmup_passes": warmups,
            "steady": steady,
            "stop_s": stop_s,
            "verify_s": verify_s,
            "steady_pass_s": summarize(untraced),
            "steady_pass_wall_s": summarize([p["wall_s"] for p in self.passes if p["pass"].startswith("steady")]),
            "failed_share": self.outcomes.failed_share,
            "failures": self.outcomes.errors[:20],
            "passes": self.passes,
        }
        if args.workload == "scoring":
            from perfbench.workloads import N_IMAGES

            detail["images_per_s"] = N_IMAGES / pass_s
            detail["reference_images_per_s"] = 102.2
        if tracer is None:
            values = {
                "setup_s": (fixture_s if self.workload.build_in_setup else 0.0) + start_s + warm_s,
                "cold_pass_s": cold_s,
                "pass_s": pass_s,
                "cpu_s": cpu_s,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        else:
            metrics = _layer_metrics(self.passes, traced, untraced)
            metrics.update(
                {
                    "session.start_s": {"value": start_s, "unit": "s"},
                    "session.warm_s": {"value": warm_s, "unit": "s"},
                    "session.jvm_peak_rss_mb": {"value": jvm_rss, "unit": "MB"},
                    "session.python_peak_rss_mb": {"value": py_rss, "unit": "MB"},
                    "sources.fixture_s": {"value": fixture_s, "unit": "s"},
                }
            )
            detail["per_op"] = _per_op(self.passes)
        result = {
            "correct": self.outcomes.failed == 0,
            "attempted": self.outcomes.attempted,
            "failed": self.outcomes.failed,
            "metrics": metrics,
        }
        return detail, result


def _layer_metrics(passes: list[dict], traced: list[float], untraced: list[float]) -> dict:
    """Each per-pass layer sum: the cold pass's for the layers whose cost
    is paid once per session, else the median over traced steady passes.
    Plus the tracing overhead on pass time."""
    from perfbench.layers import COLD_METRICS, PER_PASS_METRICS

    cold = next(p["layers"] for p in passes if p["pass"].startswith("cold"))
    steady = [p["layers"] for p in passes if p["pass"].startswith("traced")]
    out = {
        k: {
            "value": cold[k] if k in COLD_METRICS else statistics.median(p[k] for p in steady),
            "unit": unit,
        }
        for k, unit in PER_PASS_METRICS.items()
    }
    traced_s, untraced_s = statistics.median(traced), statistics.median(untraced)
    out["trace.pass_s"] = {"value": traced_s, "unit": "s"}
    out["trace.untraced_pass_s"] = {"value": untraced_s, "unit": "s"}
    out["trace.overhead_share"] = {"value": traced_s / untraced_s - 1.0, "unit": "ratio"}
    return out


def _per_op(passes: list[dict]) -> dict:
    """Per-operation construct, plan and execute times and job and task
    counts over the traced steady passes: median, tail and sample count."""
    from perfbench.helpers import summarize

    samples: dict[str, dict[str, list[float]]] = {}
    for p in passes:
        if p["pass"].startswith("traced"):
            for row in p["op_layers"]:
                per = samples.setdefault(row["op"], {})
                for k, v in row.items():
                    if k != "op":
                        per.setdefault(k, []).append(v)
    return {op: {k: summarize(v) for k, v in per.items()} for op, per in samples.items()}


def _context(sizes: dict[str, int], driver_mem: str, calibration: tuple[float, list[float]]) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "nproc": len(os.sched_getaffinity(0)),
        "driver_mem": driver_mem,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "fixture_bytes": sizes,
        "calibration_s": calibration[0],
        "calibration_samples_s": calibration[1],
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=["headline", "iterative", "scoring"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        _isolate(work)
        detail, result = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
