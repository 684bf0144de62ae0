"""Golden scoring tests in the reference's shape (SURVEY.md §5):
cardinality ('Scored N images', reference README.md:194), accuracy
golden value (README.md:211), confusion matrix structure (README.md:249),
and the P1-P5 preprocessing chain."""

from __future__ import annotations

import glob

import numpy as np
import pyarrow as pa
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
from hdinsight_pyspark_cntk_integration_spark.operators import scoring as sc

N_IMAGES = 400
DIM = 3072
N_CLASSES = 10


@pytest.fixture(scope="module")
def images_df(spark):
    """Deterministic images fixture per FIXTURES.md: (filename, image[3072],
    true_label), uint8-valued floats, seed fixed."""
    rng = np.random.default_rng(7)
    data = rng.integers(0, 256, size=(N_IMAGES, DIM)).astype(np.float32)
    labels = rng.integers(0, N_CLASSES, size=N_IMAGES)
    rows = [
        (f"img_{i:05d}.png", data[i].tolist(), int(labels[i]))
        for i in range(N_IMAGES)
    ]
    return spark.createDataFrame(
        rows, "filename string, image array<float>, true_label int"
    ).repartition(4)


@pytest.fixture(scope="module")
def mean_image():
    rng = np.random.default_rng(11)
    return rng.uniform(0, 255, size=DIM).astype(np.float32).reshape(3, 32, 32)


def _local_expected(images_df, mean_image):
    pdf = images_df.toPandas().sort_values("filename")
    x = np.stack(pdf["image"].to_numpy())
    xp = sc.cifar_preprocess(x, mean_image)
    w = sc.linear_stub_weights(DIM, N_CLASSES)
    preds = (xp.astype(np.float64) @ w.T).argmax(axis=1)
    return pdf, preds


def _stub_score(df, mean_image):
    return sc.score(
        df,
        sc.make_linear_stub_loader(DIM, N_CLASSES),
        input_col="image",
        pass_through=["filename", "true_label"],
        preprocess=lambda b: sc.cifar_preprocess(b, mean_image),
    )


def test_score_cardinality_and_accuracy(spark, images_df, mean_image):
    scored = _stub_score(images_df, mean_image)
    out = scored.toPandas().sort_values("filename")
    # golden cardinality — reference README.md:194 'Scored 10000 images'
    assert len(out) == N_IMAGES
    pdf, preds = _local_expected(images_df, mean_image)
    assert (out["predicted_label"].to_numpy() == preds).all()
    acc = rel.accuracy(scored, "true_label", "predicted_label").collect()[0]
    assert acc["num_total"] == N_IMAGES
    assert acc["num_correct"] == int((pdf["true_label"].to_numpy() == preds).sum())


def test_confusion_matrix_row_sums(spark, images_df, mean_image):
    scored = sc.score(
        images_df,
        sc.make_linear_stub_loader(DIM, N_CLASSES),
        input_col="image",
        pass_through=["true_label"],
        preprocess=lambda b: sc.cifar_preprocess(b, mean_image),
    )
    cm = rel.confusion_matrix(scored, list(range(N_CLASSES))).toPandas()
    # property: matrix total == row count (pivot loses nothing)
    label_cols = [c for c in cm.columns if c != "true_label"]
    assert int(cm[label_cols].to_numpy().sum()) == N_IMAGES
    # row sums match per-label counts
    per_label = (
        scored.groupBy("true_label").count().toPandas().set_index("true_label")["count"]
    )
    for _, row in cm.iterrows():
        assert int(row[label_cols].sum()) == int(per_label[row["true_label"]])


def test_preprocess_chain_matches_reference_semantics(mean_image):
    """P1-P5 on a single record, validated step by step against the
    reference's formulas (README.md:80-82, 154-160)."""
    rng = np.random.default_rng(3)
    flat = rng.integers(0, 256, size=(1, DIM)).astype(np.float32)
    # reference: record.reshape(3,32,32).transpose(1,2,0) -> HWC
    hwc_ref = flat[0].reshape(3, 32, 32).transpose(1, 2, 0)
    assert np.array_equal(sc.reshape_hwc(flat)[0], hwc_ref)
    # bgr + chw + mean-subtract
    bgr = hwc_ref.astype(np.float32)[:, :, ::-1]
    chw = np.ascontiguousarray(np.transpose(bgr, (2, 0, 1)))
    expected = (chw - mean_image).reshape(-1)
    got = sc.cifar_preprocess(flat, mean_image)[0]
    assert np.allclose(got, expected)


def test_scores_col_output(spark, images_df):
    """The raw score vectors come back as array<double>, equal to the
    NumPy scores, with the prediction their argmax."""
    scored = sc.score(
        images_df,
        sc.make_linear_stub_loader(DIM, N_CLASSES),
        input_col="image",
        pass_through=["filename"],
        scores_col="scores",
    )
    assert scored.schema["scores"].dataType == ArrayType(DoubleType())
    got = scored.toPandas().sort_values("filename")
    pdf = images_df.toPandas().sort_values("filename")
    want = np.stack(pdf["image"].to_numpy()).astype(np.float64) @ sc.linear_stub_weights(
        DIM, N_CLASSES
    ).T
    assert np.allclose(np.stack(got["scores"].to_numpy()), want, rtol=1e-12)
    assert (got["predicted_label"].to_numpy() == want.argmax(axis=1)).all()


@pytest.mark.parametrize("max_records", [7, 4096])
def test_score_matches_numpy_at_any_arrow_batch_size(spark, images_df, mean_image, max_records):
    """Batch boundaries must not change a prediction: 7-row batches cut
    every partition into many slices of one Arrow stream."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(max_records))
    try:
        out = _stub_score(images_df, mean_image).toPandas().sort_values("filename")
    finally:
        spark.conf.set(key, saved)
    _, preds = _local_expected(images_df, mean_image)
    assert (out["predicted_label"].to_numpy() == preds).all()


def test_score_single_partition_and_empty_input(spark, images_df, mean_image):
    one = _stub_score(images_df.repartition(1), mean_image).toPandas().sort_values("filename")
    _, preds = _local_expected(images_df, mean_image)
    assert (one["predicted_label"].to_numpy() == preds).all()
    empty = _stub_score(images_df.filter(F.lit(False)), mean_image)
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<filename:string,true_label:int,predicted_label:bigint>"
    )


def _vec_batch(rows):
    vec = pa.array(rows, type=pa.list_(pa.float32()))
    return pa.RecordBatch.from_arrays([pa.array(range(len(rows)), pa.int64()), vec], ["rid", "vec"])


def test_batch_scorer_reads_sliced_batch_through_offsets():
    """A sliced batch's list offsets do not start at 0: the input matrix
    must come from those offsets, not from the head of the values buffer."""
    rng = np.random.default_rng(5)
    x = rng.normal(size=(20, 6)).astype(np.float32)
    sliced = _vec_batch(x.tolist()).slice(7, 9)
    assert sliced.column("vec").offsets[0].as_py() == 7 * 6
    run = sc.batch_scorer(
        sc.make_linear_stub_loader(6, 4), "vec", pass_through=["rid"], scores_col="s"
    )
    (out,) = list(run(iter([sliced])))
    want = x[7:16].astype(np.float64) @ sc.linear_stub_weights(6, 4).T
    assert out.column("rid").to_pylist() == list(range(7, 16))
    assert out.column("predicted_label").to_pylist() == want.argmax(axis=1).tolist()
    assert np.allclose(np.stack(out.column("s").to_numpy(zero_copy_only=False)), want)
    assert out.schema.field("predicted_label").type == pa.int64()


@pytest.mark.parametrize(
    "rows, match",
    [([[1.0, 2.0], None, [3.0, 4.0]], "null row"), ([[1.0, 2.0], [3.0]], "different length")],
    ids=["null", "ragged"],
)
def test_batch_scorer_rejects_null_and_ragged_rows(rows, match):
    run = sc.batch_scorer(sc.make_linear_stub_loader(2, 2), "vec")
    with pytest.raises(ValueError, match=f"'vec'.*{match}"):
        list(run(iter([_vec_batch(rows)])))


def test_score_surfaces_ragged_row_error_from_the_worker(spark):
    df = spark.createDataFrame([(0, [1.0, 2.0]), (1, [3.0])], "rid long, vec array<float>")
    scored = sc.score(df.coalesce(1), sc.make_linear_stub_loader(2, 2), input_col="vec")
    with pytest.raises(PythonException, match="ValueError: score: column 'vec' has rows of"):
        scored.collect()


def test_single_csv_sink_keeps_scoring_parallel(spark, tmp_path):
    """write_single_csv must not collapse the scoring stage into one task:
    an Exchange SinglePartition sits above the Python map (no Coalesce 1),
    the map stage runs one task per input partition, and exactly one CSV
    with a header holds every scored row."""
    from hdinsight_pyspark_cntk_integration_spark.sources import io as eio

    rng = np.random.default_rng(9)
    x = rng.normal(size=(40, 8)).astype(np.float32)
    rdd = spark.sparkContext.parallelize([(i, x[i].tolist()) for i in range(40)], 4)
    scored = sc.score(
        spark.createDataFrame(rdd, "rid long, vec array<float>"),
        sc.make_linear_stub_loader(8, 3),
        input_col="vec",
        pass_through=["rid"],
    )
    out = str(tmp_path / "preds")
    ctx, group = spark.sparkContext, "single-csv-parallelism"
    key = "spark.sql.ui.explainMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "simple")
    ctx.setJobGroup(group, "write_single_csv parallelism", False)
    try:
        eio.write_single_csv(scored, out)
    finally:
        ctx.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, saved)

    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = executions.last().physicalPlanDescription()
    assert out in plan
    assert "Coalesce 1" not in plan
    exchange, python_map = plan.find("Exchange SinglePartition"), plan.find("MapInArrow")
    assert 0 <= exchange < python_map, plan

    tracker = ctx.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    ran = sorted(tracker.getStageInfo(s).numCompletedTasks for s in stages)
    assert [t for t in ran if t] == [1, 4]  # the map stage, then the one writer

    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1
    with open(files[0]) as f:
        assert f.readline().strip() == "rid,predicted_label"
    back = eio.read_csv(spark, out, schema="rid long, predicted_label long").collect()
    assert sorted(map(tuple, back)) == sorted(map(tuple, scored.collect()))
