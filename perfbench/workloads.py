"""The benchmark's workloads: what each builds at set-up, what one operation
of a pass runs, and how its results are checked."""

from __future__ import annotations

import importlib
import os
import sys
from contextlib import nullcontext
from functools import partial

import numpy as np
import pandas as pd

from perfbench import fixtures


def import_script(name: str):
    """Import one of the repository's scripts as a module. Their module code
    puts paths on ``sys.path``; the benchmark takes those out again."""
    saved = list(sys.path)
    try:
        return importlib.import_module(name)
    finally:
        sys.path[:] = saved


# The engine's parity gate's exact, order-insensitive frame comparison.
compare = import_script("tools.check_parity").compare

# The twelve bench.py headline queries (per-query fixed costs dominate).
HEADLINE = list(import_script("bench").HEADLINE)

# Loop operators whose Python plan construction and eager checkpoint jobs
# dominate their run, one each from the similarity, dedup and graph families.
ITERATIVE = ["nearest_centroid", "embedding_dedup", "kcore_trade"]

N_IMAGES = 10_000
SAMPLE_CHECKS = 64  # scored rows recomputed in NumPy per verified pass
PRED_SCHEMA = "row_id long, label int, predicted_label long"


class QueryWorkload:
    """Registry queries on the seeded table fixture; each ends in a noop
    write and is checked against its DuckDB oracle."""

    # The tables stand in for the engine's committed test data, which lies
    # outside the checkout: building them is not set-up work of the workload.
    build_in_setup = False

    def __init__(self, names: list[str], sf: float) -> None:
        self.names, self.sf = names, sf

    def build(self, work_dir: str, seed: int) -> dict[str, int]:
        # The tables come from a fixed seed, like the committed test data;
        # the run seed orders the queries.
        self.fixture = os.path.join(work_dir, f"sf{self.sf}")
        return fixtures.make_tables(self.fixture, self.sf)

    def prepare(self, spark) -> None:
        import __spark_entry__

        self.builders = __spark_entry__.queries()
        self.results: dict[str, pd.DataFrame] = {}

    def run(self, spark, op: str, trace=None) -> bool:
        with _span(trace, op, "construct"):
            df = self.builders[op](spark, self.fixture)
        if trace is not None:
            trace.plan(op, df)
        with _span(trace, op, "execute"):
            df.write.format("noop").mode("overwrite").save()
        return True

    def collect(self, spark, op: str) -> None:
        self.results[op] = self.builders[op](spark, self.fixture).toPandas()

    def verify(self) -> list[tuple[str, bool, str]]:
        """Compare every collected result with its oracle. Runs after Spark
        has stopped, so DuckDB does not share the cores with it."""
        import duckdb

        import __spark_entry__
        from hdinsight_pyspark_cntk_integration_spark.sources.catalog import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.fixture}/{t}.parquet'")
        oracles = __spark_entry__.oracle_sql()
        out = []
        for op, got in self.results.items():
            try:
                ok, msg = compare(got, con.sql(oracles[op]).df())
            except Exception as exc:  # a broken oracle is a failed check
                ok, msg = False, f"oracle error: {exc!r}"
            out.append((op, ok, msg))
        con.close()
        return out


class ScoringWorkload:
    """The paper's pipeline on pre-materialized CIFAR-shaped images: read
    parquet, score with the P1-P5 chain and the linear stub model, write the
    predictions as one CSV, then accuracy and confusion counts."""

    names = ["score_pipeline"]
    build_in_setup = True  # writing the images is the workload's set-up

    def build(self, work_dir: str, seed: int) -> dict[str, int]:
        self.images = os.path.join(work_dir, "images.parquet")
        self.out = os.path.join(work_dir, "predictions")
        pixels, self.labels = fixtures.make_images(self.images, N_IMAGES, seed)
        rng = np.random.default_rng(seed)
        self.sample = np.sort(rng.choice(N_IMAGES, SAMPLE_CHECKS, replace=False))
        self.sample_pixels = pixels[self.sample]
        # the data set's mean image, in the CHW layout subtract_mean expects
        self.mean = pixels.reshape(-1, 3, 32, 32).mean(axis=0, dtype=np.float64).astype(np.float32)
        return {"images": os.path.getsize(self.images)}

    def prepare(self, spark) -> None:
        self.verified: list[tuple[str, bool, str]] = []

    def run(self, spark, op: str, trace=None) -> bool:
        from hdinsight_pyspark_cntk_integration_spark.operators import relational, scoring
        from hdinsight_pyspark_cntk_integration_spark.sources import io

        with _span(trace, op, "construct"):
            scored = scoring.score(
                io.read_parquet(spark, self.images),
                scoring.make_linear_stub_loader(fixtures.IMAGE_FEATURES, fixtures.N_CLASSES),
                input_col="image",
                pass_through=["row_id", "label"],
                preprocess=partial(scoring.cifar_preprocess, mean_chw=self.mean),
            )
        if trace is not None:
            trace.plan(op, scored)
        with _span(trace, op, "execute"):
            io.write_single_csv(scored, self.out)
        with _span(trace, op, "evaluate"):
            preds = io.read_csv(spark, self.out, schema=PRED_SCHEMA)
            acc = relational.accuracy(preds, "label", "predicted_label").collect()[0]
            conf = relational.confusion_counts(preds, "label", "predicted_label").collect()
        self.last = (acc, conf)
        return acc["num_total"] == N_IMAGES and sum(r["n"] for r in conf) == N_IMAGES

    def collect(self, spark, op: str) -> None:
        ok = self.run(spark, op)
        self.verified.append((op, *self._check(ok)))

    def _check(self, counts_ok: bool) -> tuple[bool, str]:
        from hdinsight_pyspark_cntk_integration_spark.operators import scoring

        if not counts_ok:
            return False, "accuracy total or confusion counts do not sum to N"
        files = [f for f in os.listdir(self.out) if f.endswith(".csv")]
        if len(files) != 1:
            return False, f"{len(files)} csv files"
        got = pd.read_csv(os.path.join(self.out, files[0])).set_index("row_id").sort_index()
        if len(got) != N_IMAGES or not np.array_equal(got["label"].to_numpy(), self.labels):
            return False, "predictions lost or relabeled rows"
        x = scoring.cifar_preprocess(self.sample_pixels.astype(np.float32), self.mean)
        w = scoring.linear_stub_weights(fixtures.IMAGE_FEATURES, fixtures.N_CLASSES)
        want = (x.astype(np.float64) @ w.T).argmax(axis=1)
        if not np.array_equal(got.loc[self.sample, "predicted_label"].to_numpy(), want):
            return False, "sampled predictions differ from the NumPy recomputation"
        acc, conf = self.last
        pred = got["predicted_label"].to_numpy()
        if acc["num_correct"] != int((pred == self.labels).sum()):
            return False, "accuracy disagrees with the written predictions"
        cells = pd.crosstab(got["label"], got["predicted_label"]).stack()
        if {(r["label"], r["predicted_label"]): r["n"] for r in conf} != {
            k: v for k, v in cells.items() if v
        }:
            return False, "confusion counts disagree with the written predictions"
        return True, "ok"

    def verify(self) -> list[tuple[str, bool, str]]:
        return self.verified


def _span(trace, op: str, phase: str):
    return trace.span(op, phase) if trace is not None else nullcontext()


WORKLOADS = {
    "headline": lambda: QueryWorkload(HEADLINE, 0.1),
    "iterative": lambda: QueryWorkload(ITERATIVE, 0.01),
    "scoring": ScoringWorkload,
}
