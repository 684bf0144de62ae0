"""Batch model scoring — the engine's generalization of the reference's
centerpiece operator (SURVEY.md §2.3 M1/M2).

The reference ships a CNTK model to executors with ``sc.addFile``, loads
it once per partition inside ``run_worker``, and calls ``model.eval`` one
image at a time (reference README.md:162-184). That per-record eval is
its documented inefficiency (SURVEY.md §4). Here the same lifecycle is
expressed with ``DataFrame.mapInArrow``:

* iterator-of-batches form → the model loads ONCE per task, before the
  batch loop (the reference's "one partition per worker" trick,
  README.md:76, without hand-setting partition counts);
* inference runs on whole Arrow batches (NumPy matrix ops / BLAS), not
  per row — the order-of-magnitude win BASELINE.md asks for;
* the (rows, width) input matrix is a zero-copy view of the list
  column's flat Arrow values buffer — no per-row ndarray, no pandas;
* batch width is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  so wide image/embedding columns can't blow task memory.

``predict`` is any callable ``(np.ndarray[batch, features]) ->
np.ndarray[batch, classes]`` — a real framework model or the
deterministic linear stub used by the golden tests (FIXTURES.md).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from hdinsight_pyspark_cntk_integration_spark.pyworker import cheap_task_start

ModelLoader = Callable[[], Callable[[np.ndarray], np.ndarray]]

# ---------------------------------------------------------------------------
# Deterministic stub model (stands in for resnet20_meanimage_159.dnn in
# tests — FIXTURES.md "stub model"). Weight formula uses only integer
# arithmetic + one float division so an ANSI-SQL oracle can reproduce it
# bit-for-bit: w[c][i] = ((c*D + i) * 2654435761 mod 1000003) / 1000003 - 0.5
# ---------------------------------------------------------------------------
_MULT = 2654435761  # Knuth multiplicative-hash constant
_MOD = 1000003


def linear_stub_weight(clazz: int, feature: int, n_features: int) -> float:
    return ((clazz * n_features + feature) * _MULT % _MOD) / _MOD - 0.5


def linear_stub_weights(n_features: int, n_classes: int) -> np.ndarray:
    """(n_classes, n_features) float64 weight matrix, fully deterministic."""
    idx = np.arange(n_classes * n_features, dtype=np.int64).reshape(n_classes, n_features)
    return (idx * _MULT % _MOD) / float(_MOD) - 0.5


def make_linear_stub_loader(n_features: int, n_classes: int) -> ModelLoader:
    """ModelLoader for the stub: 'loading' builds the weight matrix once
    per task, mirroring the reference's once-per-partition
    ``load_model(SparkFiles.get(...))`` (README.md:164)."""

    def loader() -> Callable[[np.ndarray], np.ndarray]:
        w = linear_stub_weights(n_features, n_classes)

        def predict(batch: np.ndarray) -> np.ndarray:
            return batch.astype(np.float64, copy=False) @ w.T

        return predict

    return loader


# ---------------------------------------------------------------------------
# Preprocessing chain P1-P5 (reference README.md:80-85, 154-160) as batch
# NumPy transforms. Each step takes/returns (batch, ...) float arrays.
# ---------------------------------------------------------------------------
def reshape_hwc(batch: np.ndarray, channels: int = 3, height: int = 32, width: int = 32) -> np.ndarray:
    """P1: flat (N, C*H*W) CIFAR rows → (N, H, W, C) HWC images
    (reference ``reshape_image``: reshape(3,32,32).transpose(1,2,0),
    README.md:80-82)."""
    return batch.reshape(-1, channels, height, width).transpose(0, 2, 3, 1)


def cast_float32(batch: np.ndarray) -> np.ndarray:
    """P2: ``astype(np.float32)`` (README.md:156)."""
    return batch.astype(np.float32, copy=False)


def rgb_to_bgr(batch: np.ndarray) -> np.ndarray:
    """P3: channel reverse ``[:, :, ::-1]`` on HWC batches (README.md:157)."""
    return batch[..., ::-1]


def hwc_to_chw(batch: np.ndarray) -> np.ndarray:
    """P4: transpose to CHW + contiguify (README.md:158)."""
    return np.ascontiguousarray(batch.transpose(0, 3, 1, 2))


def subtract_mean(batch: np.ndarray, mean_image: np.ndarray) -> np.ndarray:
    """P5: broadcast mean-image subtraction (README.md:159,165). The mean
    ships inside the task closure — small constants don't need an explicit
    ``sc.broadcast`` under mapInArrow, Spark broadcasts the serialized
    function once per executor."""
    return batch - mean_image


def cifar_preprocess(flat_batch: np.ndarray, mean_chw: np.ndarray | None = None) -> np.ndarray:
    """Full reference chain on a flat (N, 3072) batch → flat (N, 3072)
    float32 ready for a linear/conv scorer, reproducing README.md:154-160:
    reshape→HWC, cast f32, RGB→BGR, HWC→CHW, mean-subtract."""
    x = reshape_hwc(flat_batch)
    x = cast_float32(x)
    x = rgb_to_bgr(x)
    x = hwc_to_chw(x)
    if mean_chw is not None:
        x = subtract_mean(x, mean_chw)
    return x.reshape(x.shape[0], -1)


# ---------------------------------------------------------------------------
# The scoring operator
# ---------------------------------------------------------------------------
def batch_matrix(col: pa.Array, name: str) -> np.ndarray:
    """(rows, width) matrix over a list column's flat ``values`` buffer.

    Slices the child by the column's own ``offsets``, so a sliced batch
    (``offsets[0] != 0``) reads only its rows. Zero-copy when the values
    hold no nulls, so the result is a READ-ONLY view: preprocess and
    predict must not write into their input. A null row or rows of
    different length raise ``ValueError`` naming the column.
    """
    if col.null_count:
        raise ValueError(f"score: column {name!r} has {col.null_count} null row(s)")
    offsets = col.offsets.to_numpy()
    lengths = np.diff(offsets)
    width = int(lengths[0]) if len(lengths) else 0
    if (lengths != width).any():
        raise ValueError(
            f"score: column {name!r} has rows of different length "
            f"({int(lengths.min())}..{int(lengths.max())})"
        )
    start = int(offsets[0])
    flat = col.values.slice(start, int(offsets[-1]) - start)
    return flat.to_numpy(zero_copy_only=False).reshape(len(col), width)


def batch_scorer(
    model_loader: ModelLoader,
    input_col: str,
    pass_through: Sequence[str] = (),
    preprocess: Callable[[np.ndarray], np.ndarray] | None = None,
    scores_col: str | None = None,
    pred_col: str = "predicted_label",
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The ``mapInArrow`` function behind ``score``: RecordBatches in,
    ``pass_through`` + ``pred_col`` (int64) [+ ``scores_col`` as
    ``list<double>``] RecordBatches out."""
    pass_through = list(pass_through)
    names = [*pass_through, pred_col, *([scores_col] if scores_col else [])]
    scores_type = pa.list_(pa.field("element", pa.float64()))

    def run_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cheap_task_start()
        # Load once per task, before the batch loop — M1's amortization.
        predict = model_loader()
        for batch in batches:
            if not batch.num_rows:
                continue
            x = batch_matrix(batch.column(input_col), input_col)
            if preprocess is not None:
                x = preprocess(x)
            scores = np.asarray(predict(x), dtype=np.float64)
            out = [batch.column(c) for c in pass_through]
            out.append(pa.array(scores.argmax(axis=1).astype(np.int64)))
            if scores_col:
                n, k = scores.shape
                offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
                out.append(
                    pa.ListArray.from_arrays(offsets, pa.array(scores.ravel()), type=scores_type)
                )
            yield pa.RecordBatch.from_arrays(out, names=names)

    return run_batches


def score(
    df: DataFrame,
    model_loader: ModelLoader,
    input_col: str,
    pass_through: Sequence[str] = (),
    preprocess: Callable[[np.ndarray], np.ndarray] | None = None,
    scores_col: str | None = None,
    pred_col: str = "predicted_label",
    repartition: int | str | None = None,
) -> DataFrame:
    """Distributed batch inference over an ``array<float>`` column.

    Plan shape: FileScan → MapInArrow — single stage, no shuffle;
    Catalyst prunes unused columns before the Python boundary (the
    reference does this pruning by hand, yielding only ``(label, pred)``
    before collect — README.md:174). Each Arrow batch reaches the model
    as one zero-copy (rows, width) matrix (``batch_matrix``); the
    pass-through columns go back as the same Arrow arrays.

    Returns ``pass_through`` columns + ``pred_col`` (long, argmax of class
    scores = M2) and optionally the raw score vector.
    """
    pass_through = list(pass_through)
    out_fields = [f"{c} {df.schema[c].dataType.simpleString()}" for c in pass_through]
    out_fields.append(f"{pred_col} long")
    if scores_col:
        out_fields.append(f"{scores_col} array<double>")
    run_batches = batch_scorer(
        model_loader, input_col, pass_through, preprocess, scores_col, pred_col
    )

    cols_needed = [*pass_through, input_col]
    narrow = df.select(*cols_needed)
    # The reference hand-tunes one partition per worker (README.md:76);
    # the inverse problem matters for small sources: one parquet file
    # arrives as ONE partition, serializing inference on one core.
    # "auto" repartitions ONLY when the input is narrower than the core
    # count; an explicit int forces that count; None never shuffles (big
    # scans already have file-split parallelism, and a shuffle of the
    # full input ahead of inference would dominate at scale).
    if repartition == "auto":
        par = df.sparkSession.sparkContext.defaultParallelism
        if narrow.rdd.getNumPartitions() < par:
            narrow = narrow.repartition(par)
    elif repartition:
        narrow = narrow.repartition(repartition)
    return narrow.mapInArrow(run_batches, schema=", ".join(out_fields))
