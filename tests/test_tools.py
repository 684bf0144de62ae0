"""The measurement scripts: bench.py and tools/ import without starting
Spark, and bench.Readout counts the jobs of building the frame (eager
checkpoints) apart from the whole run's."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

import bench

ROOT = Path(__file__).resolve().parent.parent

_IMPORT_ALL = """
import importlib.util, sys
from pyspark import SparkContext
for path in sys.argv[1:]:
    spec = importlib.util.spec_from_file_location("script_" + path.replace("/", "_")[:-3], path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
assert SparkContext._gateway is None, "importing a script started Spark"
"""


def test_scripts_import_without_starting_spark():
    scripts = ["bench.py", *sorted(str(p.relative_to(ROOT)) for p in (ROOT / "tools").glob("*.py"))]
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, *scripts], cwd=ROOT, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]


@pytest.mark.parametrize("checkpoint", [True, False], ids=["eager_checkpoint", "lazy"])
def test_readout_counts_construct_jobs(spark, checkpoint):
    def make():
        df = spark.range(100)
        if checkpoint:
            df = df.localCheckpoint(eager=True)
        return df.selectExpr("id % 7 AS k").groupBy("k").count()

    readout = bench.Readout(spark)
    samples = bench.timed_runs(make, readout)
    work = readout.read()
    assert len(samples) == 3
    assert work["construct.jobs"] == (1 if checkpoint else 0)
    # execute.* spans the whole run, so it holds the write's jobs on top
    assert work["execute.jobs"] > work["construct.jobs"]
