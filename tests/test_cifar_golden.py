"""Golden end-to-end CIFAR-shaped pipeline (SURVEY.md §5's promised test).

Reproduces the reference walkthrough's full shape from archive bytes to
accuracy + confusion matrix (reference README.md:69-84 ingest,
140-144 mean parse, 154-160 preprocess, 162-184 scoring, 194 "Scored N",
211 "XX.XX%", 249 confusion):

  tar+pickle archive → DataFrame → real CIFAR-10_mean.xml → P1–P5
  preprocess → stub linear scorer (mapInArrow, model loaded once per
  task, one zero-copy input matrix per Arrow batch) → accuracy % +
  confusion matrix

with a deterministic synthetic archive and the stub model standing in
for resnet20_meanimage_159.dnn (CNTK isn't installable here; the real
mean file IS used). Every prediction is cross-checked against a local
NumPy evaluation of the identical math.
"""

from __future__ import annotations

import os
import pickle
import re
import tarfile

import numpy as np
import pytest

from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
from hdinsight_pyspark_cntk_integration_spark.operators import scoring as sc
from hdinsight_pyspark_cntk_integration_spark.sources import artifacts as art
from hdinsight_pyspark_cntk_integration_spark.sources import cifar

REFERENCE_MEAN_XML = os.environ.get(
    "SPARK_GRAFT_MEAN_XML", "/root/reference/CIFAR-10_mean.xml"
)

pytestmark = pytest.mark.skipif(
    not os.path.exists(REFERENCE_MEAN_XML),
    reason="real CIFAR-10_mean.xml not present (set SPARK_GRAFT_MEAN_XML)",
)

N_ROWS = 1000
N_FEATURES = 3 * 32 * 32
N_CLASSES = 10


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    """Deterministic CIFAR-10-python-format archive: two pickled batch
    dicts ({b'data': uint8 (N,3072), b'labels': [int]}) in a tar.gz,
    plus a non-batch member that the loader must skip."""
    rng = np.random.RandomState(7)
    root = tmp_path_factory.mktemp("cifar")
    inner = root / "cifar-10-batches-py"
    inner.mkdir()
    half = N_ROWS // 2
    offset = 0
    for name in ("test_batch_part0", "test_batch_part1"):
        data = rng.randint(0, 256, size=(half, N_FEATURES), dtype=np.uint8)
        labels = [(offset + i) % N_CLASSES for i in range(half)]
        with open(inner / name, "wb") as fh:
            pickle.dump({b"data": data, b"labels": labels}, fh)
        offset += half
    (inner / "readme.html").write_text("not a batch")
    tar_path = root / "cifar-test.tar.gz"
    with tarfile.open(tar_path, "w:gz") as tar:
        tar.add(inner, arcname="cifar-10-batches-py")
    return str(tar_path)


@pytest.fixture(scope="module")
def mean_chw():
    mat = art.parse_opencv_matrix_xml(REFERENCE_MEAN_XML)
    assert mat.size == N_FEATURES  # the real 32x32x3 CIFAR mean
    return art.mean_image_chw(mat.reshape(-1))


def _local_predictions(archive_path, mean_chw):
    """The identical pipeline in pure NumPy — the golden answer."""
    datas, labels = [], []
    for _, data, labs in cifar.read_cifar_archive(archive_path, "test_batch"):
        datas.append(data)
        labels.extend(labs)
    flat = np.concatenate(datas)
    x = sc.cifar_preprocess(flat, mean_chw.reshape(3, 32, 32))
    w = sc.linear_stub_weights(N_FEATURES, N_CLASSES)
    preds = (x.astype(np.float64) @ w.T).argmax(axis=1)
    return preds, np.asarray(labels)


def test_cifar_archive_to_confusion_end_to_end(spark, archive, mean_chw):
    df = cifar.cifar_batch_df(spark, archive, member_filter="test_batch", num_slices=2)
    assert df.rdd.getNumPartitions() >= 2  # scoring won't serialize on one core

    mean = mean_chw.reshape(3, 32, 32)
    scored = sc.score(
        df,
        sc.make_linear_stub_loader(N_FEATURES, N_CLASSES),
        input_col="image",
        pass_through=["row_id", "label"],
        preprocess=lambda b: sc.cifar_preprocess(b, mean),
    )

    rows = scored.orderBy("row_id").collect()
    golden_preds, golden_labels = _local_predictions(archive, mean_chw)

    # "Scored 10000" structure (README.md:194) at synthetic N
    assert f"Scored {len(rows)}" == f"Scored {N_ROWS}"
    assert [r["label"] for r in rows] == list(golden_labels)
    assert [r["predicted_label"] for r in rows] == list(golden_preds)

    # accuracy: "91.65%"-style two-decimal percent (README.md:211)
    acc = rel.accuracy(scored, true_col="label").collect()[0]
    assert acc["num_total"] == N_ROWS
    assert acc["num_correct"] == int((golden_preds == golden_labels).sum())
    assert re.fullmatch(r"\d+\.\d{2}%", f"{acc['accuracy_pct']:.2f}%")

    # confusion matrix: dense 10x10 with explicit labels (README.md:249)
    conf = (
        rel.confusion_matrix(scored, list(range(N_CLASSES)), true_col="label")
        .orderBy("label")
        .collect()
    )
    assert len(conf) == len({r["label"] for r in rows})
    grid = np.array([[r[str(c)] for c in range(N_CLASSES)] for r in conf])
    assert grid.sum() == N_ROWS  # every scored row lands in exactly one cell


def test_cifar_loader_skips_non_batch_members(spark, archive):
    batches = list(cifar.read_cifar_archive(archive, ""))
    assert [n.rsplit("/", 1)[-1] for n, _, _ in batches] == [
        "test_batch_part0",
        "test_batch_part1",
    ]
    for _, data, labels in batches:
        assert data.shape == (N_ROWS // 2, N_FEATURES)
        assert data.dtype == np.uint8
        assert len(labels) == N_ROWS // 2


def test_cifar_loader_raises_on_no_match(spark, archive):
    with pytest.raises(ValueError, match="no CIFAR batch members"):
        cifar.cifar_batch_df(spark, archive, member_filter="train_batch")


def test_cifar_python_datasource_matches_driver_loader(spark, archive):
    """The distributed cifar_pickle DataSource (one input partition per
    archive member, Arrow RecordBatch output) must read exactly what the
    driver-side loader reads: same cardinality, same (image, label) rows,
    one partition per batch member, non-batch members skipped."""
    from hdinsight_pyspark_cntk_integration_spark.sources.cifar_datasource import (
        CifarPickleDataSource,
    )

    spark.dataSource.register(CifarPickleDataSource)
    ds = (
        spark.read.format("cifar_pickle")
        .option("member_filter", "test_batch")
        .load(archive)
    )
    assert ds.count() == N_ROWS
    assert ds.select("batch").distinct().count() == 2
    assert ds.rdd.getNumPartitions() == 2

    # exact row parity with the driver-side reference loader, keyed by the
    # loader's global row order (members iterate in archive order)
    expected = {}
    offset = 0
    for _, data, labels in cifar.read_cifar_archive(archive, "test_batch"):
        for i in range(data.shape[0]):
            expected[offset + i] = (int(labels[i]), int(data[i].sum()))
        offset += data.shape[0]
    got = {}
    for r in ds.collect():
        gid = (0 if r["batch"].endswith("part0") else N_ROWS // 2) + r["row_in_batch"]
        got[gid] = (int(r["label"]), int(sum(r["image"])))
    assert got == expected

    # full archive read (no filter) skips the non-batch member
    spark.dataSource.register(CifarPickleDataSource)
    all_df = spark.read.format("cifar_pickle").load(archive)
    assert all_df.count() == N_ROWS
