"""Multimodal plumbing: binary columns, metadata, decode/resize, hashing.
The codec is a deterministic fake (container has no imaging libs); the
Spark-side schema/batching/partitioning is fully real (SURVEY.md §2.7)."""

from __future__ import annotations

import numpy as np
import pytest

from hdinsight_pyspark_cntk_integration_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("a.png", b"\x89PNG\r\n\x1a\n" + b"fakepng"),
        ("b.jpg", b"\xff\xd8\xff\xe0" + b"fakejpg"),
        ("c.bin", b"\x00\x01\x02\x03rawbytes"),
    ]
    return spark.createDataFrame(rows, "path string, content binary")


def test_metadata_without_decode(media_df):
    out = mm.with_media_metadata(media_df).toPandas().set_index("path")
    assert out.loc["a.png", "media_format"] == "png"
    assert out.loc["b.jpg", "media_format"] == "jpeg"
    assert out.loc["c.bin", "media_format"] == "unknown"
    assert (out["media_bytes"] > 0).all()
    assert out["media_sha256"].nunique() == 3


def test_decode_requires_decoder(media_df):
    with pytest.raises(NotImplementedError):
        mm.decode_to_tensor(media_df)


def test_fake_decode_deterministic(spark, media_df):
    dec = mm.deterministic_fake_decoder(shape=(8, 8, 3))
    out1 = mm.decode_to_tensor(media_df, decoder=dec).toPandas().set_index("path")
    out2 = mm.decode_to_tensor(media_df, decoder=dec).toPandas().set_index("path")
    for p in ("a.png", "b.jpg", "c.bin"):
        assert list(out1.loc[p, "shape"]) == [8, 8, 3]
        assert np.array_equal(out1.loc[p, "tensor"], out2.loc[p, "tensor"])
    assert not np.array_equal(out1.loc["a.png", "tensor"], out1.loc["b.jpg", "tensor"])


def test_resize_tensor(spark, media_df):
    dec = mm.deterministic_fake_decoder(shape=(8, 8, 3))
    decoded = mm.decode_to_tensor(media_df, decoder=dec)
    resized = mm.resize_tensor(decoded, (4, 4)).toPandas().set_index("path")
    for p in resized.index:
        assert list(resized.loc[p, "shape"]) == [4, 4, 3]
        assert len(resized.loc[p, "tensor"]) == 4 * 4 * 3


def test_decode_matches_decoder_per_row(spark):
    """The mapInPandas decode returns, for every row across partitions,
    exactly the decoder's output on that row's bytes: the shape column
    and the flat float32 tensor."""
    rows = [(f"img{i}", bytes([i] * (10 + i))) for i in range(6)]
    df = spark.createDataFrame(rows, "path string, content binary").repartition(3)
    dec = mm.deterministic_fake_decoder((4, 5, 3))
    got = {r["path"]: r for r in mm.decode_to_tensor(df, decoder=dec).collect()}
    assert set(got) == {f"img{i}" for i in range(6)}
    for path, data in rows:
        want = dec(data)
        assert got[path]["shape"] == [4, 5, 3]
        assert got[path]["tensor"] == want.astype(np.float32).ravel().tolist()


# --------------------------------------------------------------------------
# perceptual hashing
# --------------------------------------------------------------------------
def test_perceptual_dhash_identical_bytes_identical_hash(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, b"same-bytes"), (2, b"same-bytes"), (3, b"other")],
        "doc_id long, content binary",
    )
    h = {
        r["doc_id"]: r["phash"]
        for r in mm.perceptual_dhash(
            df, decoder=mm.deterministic_fake_decoder((8, 9, 3))
        ).collect()
    }
    assert h[1] == h[2]
    assert h[1] != h[3]


def test_near_dup_phash_banding_guarantee_and_verify(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import multimodal as mm

    base = 0x0123_4567_89AB_CDEF
    rows = [
        (1, base),
        (2, base ^ 0b111),          # 3 flips, all in band 0 -> candidate, hamming 3
        (3, base ^ (1 << 1) ^ (1 << 17) ^ (1 << 33)),  # 3 flips in 3 bands -> band 3 intact
        (4, base ^ ((1 << 40) - 1)),  # 40 flips -> filtered by verify even if bucketed
    ]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.near_dup_phash(df, max_hamming=4, bands=4).collect()
    }
    assert got[(1, 2)] == 3
    assert got[(1, 3)] == 3
    assert (1, 4) not in got
    # 2 vs 3: xor has bits {0, 2, 17, 33} (bit 1 cancels) = hamming 4;
    # band 3 (bits 48-63) is untouched on both, so they bucket together
    assert got[(2, 3)] == 4
