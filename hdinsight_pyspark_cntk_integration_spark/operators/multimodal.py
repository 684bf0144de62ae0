"""Multimodal (image/audio/video) column plumbing (SURVEY.md §2.7).

Media are opaque ``binary`` columns + typed metadata structs — the
generalization of the reference's CIFAR ingestion, where images arrive as
raw bytes and are decoded/preprocessed in a partition-parallel UDF
(reference README.md:69-84, 154-160).

The decode kernels themselves (JPEG/PNG/audio codecs) are STUBBED — the
container has no imaging libraries — so every decode takes its codec as a
``decoder`` argument. Everything Spark-side is real and tested: schemas,
mapInPandas batch shape, partitioning, metadata extraction. A
deterministic fake decoder ships for tests: it expands bytes into a
fixed-shape float tensor reproducibly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# decoder: bytes -> np.ndarray (H, W, C) float32.
Decoder = Callable[[bytes], np.ndarray]


def deterministic_fake_decoder(shape: tuple[int, int, int] = (8, 8, 3)) -> Decoder:
    """Test decoder: bytes → reproducible pseudo-image via sha256 expansion.
    Stands in for the real codec so the Spark plumbing is fully testable."""

    def decode(data: bytes) -> np.ndarray:
        n = int(np.prod(shape))
        out = np.empty(n, dtype=np.float32)
        i = 0
        counter = 0
        while i < n:
            block = hashlib.sha256(data + counter.to_bytes(4, "little")).digest()
            vals = np.frombuffer(block, dtype=np.uint8).astype(np.float32)
            take = min(n - i, len(vals))
            out[i : i + take] = vals[:take]
            i += take
            counter += 1
        return out.reshape(shape)

    return decode


def _require_decoder(decoder: Decoder | None) -> Decoder:
    if decoder is None:
        raise NotImplementedError(
            "No media decoder installed in this environment; pass "
            "decoder=... with a real codec, or "
            "deterministic_fake_decoder() in tests."
        )
    return decoder


def with_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap metadata without decoding: byte length + content hash +
    magic-number format sniff. Pure Catalyst expressions."""
    c = F.col(content_col)
    magic = F.hex(F.substring(c, 1, 4))
    fmt = (
        F.when(magic.startswith("89504E47"), F.lit("png"))
        .when(magic.startswith("FFD8FF"), F.lit("jpeg"))
        .when(magic.startswith("47494638"), F.lit("gif"))
        .when(magic.startswith("52494646"), F.lit("riff"))
        .otherwise(F.lit("unknown"))
    )
    return df.withColumn("media_bytes", F.length(c).cast("long")).withColumn(
        "media_sha256", F.sha2(c, 256)
    ).withColumn("media_format", fmt)


def decode_to_tensor(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "path",
    decoder: Decoder | None = None,
) -> DataFrame:
    """binary → (id, shape array<int>, tensor array<float>) via mapInPandas.

    Same operator shape as scoring.score: iterator-of-batches so any
    per-task decoder setup happens once; Arrow moves the bytes in and the
    flat tensors out. Output is flat + explicit shape column — the
    engine's standard tensor representation (SURVEY.md §1.3).
    """
    dec = _require_decoder(decoder)
    schema = f"{id_col} string, shape array<int>, tensor array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            shapes, tensors = [], []
            for data in pdf[content_col]:
                arr = dec(bytes(data))
                shapes.append(list(arr.shape))
                tensors.append(arr.astype(np.float32).ravel())
            yield pd.DataFrame({id_col: pdf[id_col], "shape": shapes, "tensor": tensors})

    return df.select(id_col, content_col).mapInPandas(run, schema=schema)


def resize_tensor(
    df: DataFrame,
    out_hw: tuple[int, int],
    tensor_col: str = "tensor",
    shape_col: str = "shape",
) -> DataFrame:
    """Nearest-neighbor resize of HWC tensors (pure NumPy — no codec needed).
    Real pipelines swap in a library kernel; the batch plumbing is identical."""
    oh, ow = out_hw

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for tens, shp in zip(pdf[tensor_col], pdf[shape_col]):
                if shp is None or len(shp) != 3:
                    raise ValueError(
                        f"resize_tensor expects rank-3 HWC shapes in {shape_col!r}, "
                        f"got {None if shp is None else list(shp)}"
                    )
                h, w, c = (int(s) for s in shp)
                img = np.asarray(tens, dtype=np.float32).reshape(h, w, c)
                ri = (np.arange(oh) * h // oh).clip(0, h - 1)
                ci = (np.arange(ow) * w // ow).clip(0, w - 1)
                out.append(img[ri][:, ci].ravel())
            pdf = pdf.copy()
            pdf[tensor_col] = out
            pdf[shape_col] = [[oh, ow, int(s[2])] for s in pdf[shape_col]]
            yield pdf

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(run, schema=fields)


def perceptual_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    decoder: Decoder | None = None,
) -> DataFrame:
    """64-bit perceptual difference hash (dHash) per media row: decode →
    grayscale (channel mean) → area-resize to 8×9 → horizontal-gradient
    sign bits packed into one signed int64. Identical bytes always hash
    identically; visually-similar images land within a few bits (with a
    REAL codec passed as ``decoder`` — the shipped deterministic
    stub makes equality-duplicates exact and near-misses random, which
    is precisely what the oracle-checkable gate needs).

    One Arrow pass, no shuffle; the hash column is the 8-byte surrogate
    all downstream dedup joins run on — raw media bytes are touched
    exactly once at 100 TB.
    """
    dec = _require_decoder(decoder)
    schema = f"{id_col} long, phash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = np.empty(len(pdf), dtype=np.int64)
            for i, data in enumerate(pdf[content_col]):
                arr = dec(bytes(data)).astype(np.float64)
                gray = arr.mean(axis=2) if arr.ndim == 3 else arr
                h, w = gray.shape
                # area-resize to 8 rows × 9 cols via block means
                rows = np.array_split(np.arange(h), 8)
                cols = np.array_split(np.arange(w), 9)
                g = np.empty((8, 9))
                for r, ri in enumerate(rows):
                    for c, ci in enumerate(cols):
                        g[r, c] = gray[np.ix_(ri, ci)].mean()
                bits = (g[:, 1:] > g[:, :-1]).ravel()
                # 64 bits → 8 bytes → one uint64 → reinterpret signed
                # (deterministic byte order; wraparound to negative is
                # fine, the value is an opaque key)
                out[i] = np.packbits(bits).view(np.uint64)[0].astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "phash": out})

    return df.select(id_col, content_col).mapInPandas(run, schema=schema)


def near_dup_phash(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 4,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate media pairs by banded perceptual-hash join: the
    64-bit dHash splits into ``bands`` 16-bit keys; any pair differing
    in FEWER than ``bands`` bits must agree on at least one band
    (pigeonhole — same guarantee as MinHash banding), so candidates come
    from |band|-bucketed equi-joins, never an all-pairs scan. Survivors
    are verified EXACTLY with a JVM-side popcount of the XOR. Recall
    caveat (standard LSH): with ``max_hamming == bands`` a pair whose
    differing bits land one-per-band has no shared band and is missed —
    the guarantee is complete only for hamming ≤ bands−1; raise
    ``bands`` (up to 8) to push the guaranteed radius out.

    Returns (id_a, id_b, hamming) with id_a < id_b. Shuffles: one per
    band key (Σ|bucket|² join work, bounded by hash collisions), one
    dedup of candidate pairs.
    """
    if not 1 <= bands <= 8:
        raise ValueError(f"bands must be in [1, 8] (got {bands})")
    if max_hamming >= bands * 16:
        raise ValueError("max_hamming must be < bands * 16")
    width = 64 // bands
    mask = (1 << width) - 1
    h = hashes.select(F.col(id_col).alias("id"), F.col("phash"))
    banded = h.select(
        "id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "phash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
