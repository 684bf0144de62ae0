"""Seeded input generators: the TPC-H-ish table fixture and the CIFAR-shaped
image set. NumPy + PyArrow only, so building the inputs needs no Spark.

The table fixture mirrors the schema, row counts and value distributions of
the engine's sf0.1 test data (one snappy parquet file per table, one row
group each): ``sf=0.1`` gives 600,000 lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
NOUNS = ["ring", "bolt", "plate", "gear", "valve", "pipe", "screw", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "spark window merge table column vector stream value data small join filter"
    " big group hash customer sort order slow line part fast the row agg key"
    " query a scan batch"
).split()
EMB_DIM = 64
IMAGE_FEATURES = 3072
N_CLASSES = 10

_DAY_US = 86_400_000_000


def _days_ts(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts of 10-100 words from a 30-word vocabulary; 5% are copies of
    another document with " dup" appended (the near-duplicate plant)."""
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    dups = rng.choice(n, n // 20, replace=False)
    sources = np.setdiff1d(np.arange(n), dups)
    for d, s in zip(dups, rng.choice(sources, len(dups))):
        texts[d] = texts[s] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors with a weak per-label direction (centroid norm ~0.07)."""
    labels = rng.integers(0, N_CLASSES, n).astype(np.int32)
    centers = rng.standard_normal((N_CLASSES, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.07 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
            "label": labels,
        }
    )


def make_tables(out_dir: str, sf: float = 0.1, seed: int = 42) -> dict[str, int]:
    """Write the ten fixture tables as ``{out_dir}/{name}.parquet`` and
    return each file's size in bytes."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = int(15_000 * sf), int(50_000 * sf), max(500, int(20_000 * sf))

    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    ev_ts += np.datetime64("2024-01-01", "us").astype(np.int64)
    part_ids = np.arange(n_part, dtype=np.int64)
    tables = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part_ids,
                "p_name": pa.array(
                    [
                        f"{ADJECTIVES[a]} {NOUNS[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": 900.0 + (part_ids % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days_ts("1995-01-01", rng.integers(0, 2405, n_ord)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days_ts("1995-01-02", rng.integers(0, 2499, n_li)),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ev_ts, type=pa.timestamp("us")),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes


def make_images(path: str, n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Write ``n`` CIFAR-shaped rows (``row_id``, ``image`` = 3072 pixel
    values in 0-255 as floats, ``label`` in 0-9) to one parquet file.
    Returns the uint8 pixels and the labels for the correctness check."""
    rng = np.random.default_rng(seed)
    pixels = rng.integers(0, 256, (n, IMAGE_FEATURES), dtype=np.uint8)
    labels = rng.integers(0, N_CLASSES, n).astype(np.int32)
    offsets = np.arange(0, n * IMAGE_FEATURES + 1, IMAGE_FEATURES, dtype=np.int32)
    table = pa.table(
        {
            "row_id": np.arange(n, dtype=np.int64),
            "image": pa.ListArray.from_arrays(
                offsets, pa.array(pixels.ravel().astype(np.float32))
            ),
            "label": labels,
        }
    )
    # Row groups of 1024 images let the scan split across every core.
    pq.write_table(table, path, row_group_size=1024)
    return pixels, labels
