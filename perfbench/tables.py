"""Seeded generator for the ten catalog tables the query registry reads.

The tables follow the schemas of FIXTURES.md section A and the value
distributions of the fixture tables described there (uniform keys, the
same string vocabularies, 64-d isotropic unit embeddings), so every
registered query runs on them. Row counts scale linearly with ``sf``
(sf=0.1 gives 600k lineitem rows). The same ``(seed, sf)`` always writes
the same bytes; every table but the embedding vectors changes with the
seed.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "wire"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _us(dt: datetime) -> int:
    """Microseconds since the epoch of a naive UTC datetime."""
    return (dt - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def _dates(rng, n, lo: datetime, hi: datetime, step_us: int) -> pa.Array:
    ticks = rng.integers(0, (_us(hi) - _us(lo)) // step_us + 1, n)
    return pa.array(_us(lo) + ticks * step_us, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(vocab[words[pos : pos + k]]))
        pos += k
    # ~2% near-duplicates (one word swapped for "dup") and a few exact
    # copies, so the dedup and LSH queries find real clusters
    for i in rng.choice(np.arange(1, n), max(1, n // 50), replace=False):
        src = texts[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 50), max(int(1_500_000 * sf), 100)
    n_line, n_evt = 4 * n_ord, max(int(1_000_000 * sf), 100)
    n_doc, n_emb = max(int(50_000 * sf), 50), max(int(20_000 * sf), 500)
    # One fixed draw of unit vectors for every seed: which candidate pairs
    # the engine's SRP-LSH finds in a draw sets how many label-propagation
    # rounds the clustering queries run (62 to 110 jobs for
    # dbscan_embedding_clusters across seeds, even for rotations of one
    # draw), and that alone would spread the curation sweep by about 15%.
    emb = np.random.default_rng(0).standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    evt_ts = np.sort(
        rng.integers(_us(datetime(2024, 1, 1)), _us(datetime(2024, 1, 31)), n_evt)
    )
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _dates(
                    rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1), 86_400_000_000
                ),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
                "l_shipdate": _dates(
                    rng, n_line, datetime(1995, 1, 2), datetime(2001, 11, 4), 86_400_000_000
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), pa.int64()),
                "ts": pa.array(evt_ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(n_evt // 66, 10), n_evt), pa.int64()),
                "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write ``{out_dir}/{name}.parquet`` for every table; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
