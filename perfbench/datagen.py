"""Seeded input generation for the benchmark.

Writes the ten tables the registry keys read (one parquet file per
table, the layout and column types of the engine's fixture data) and
the dense point set of the ``lloyd-bulk`` workload. The same seed gives
byte-identical files. Row counts follow the TPC-H-ish scale factor
(lineitem = 6 000 000 x sf); documents and embeddings are fixed-size
corpora, as they are in the fixture data below sf0.1.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
CORPUS_ROWS = 500  # documents and embeddings rows, as in the fixtures below sf0.1


def _day_us(date: str) -> int:
    return int(np.datetime64(date, "D").astype("datetime64[us]").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng, choices, n, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Space-joined random words from a small vocabulary."""
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))])
             for _ in range(n)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _vectors(points: np.ndarray) -> pa.Array:
    n, d = points.shape
    flat = pa.array(points.astype(np.float32).ravel(), type=pa.float32())
    return pa.ListArray.from_arrays(pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)), flat)


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> dict:
    """Unit vectors around k weak directions (label = generating blob)."""
    centres = rng.normal(0.0, 1.0, (k, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    x = 1.2 * centres[label] + rng.normal(0.0, 1.0, (n, dim)) / np.sqrt(dim) * 2.5
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": _vectors(x),
        "label": pa.array(label.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write region..embeddings parquet files for ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_supp, n_cust = int(10_000 * sf), int(150_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    d0, d1 = _day_us("1995-01-01"), _day_us("2001-08-02")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(rng.integers(d0 // _DAY_US, d1 // _DAY_US, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    s0, s1 = _day_us("1995-01-02"), _day_us("2001-11-05")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(s0 // _DAY_US, s1 // _DAY_US, n_li) * _DAY_US),
    })
    e0 = _day_us("2024-01-01")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(np.sort(rng.integers(e0, e0 + 30 * _DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, CORPUS_ROWS))
    _write(out_dir, "embeddings", _embeddings(rng, CORPUS_ROWS))


def write_points(path: str, seed: int, n: int, dim: int, k: int) -> None:
    """Gaussian blobs around ``k`` seeded centres, float32, in vec_id order."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.uniform(-10.0, 10.0, (k, dim))
    label = rng.integers(0, k, n)
    x = (centres[label] + rng.normal(0.0, 1.5, (n, dim))).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": _vectors(x),
            "label": pa.array(label.astype(np.int32)),
        }),
        path,
        row_group_size=max(1, n // 4),
    )
