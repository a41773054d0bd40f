"""Seeded generator for the star-schema tables the registry queries read.

Writes one parquet file per table (``region`` … ``embeddings``) with the
schemas and value domains of the testdata described in FIXTURES.md, so every
query and its DuckDB oracle run unchanged. The same ``(seed, sf)`` always
gives byte-identical values; a different seed changes the values but keeps
every table's size and value domains, so per-run timings stay comparable
across seeds.
"""

from __future__ import annotations

import os
import zlib
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.42, 0.14, 0.14, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: tuple, n_days: int, n: int) -> pa.Array:
    us = _epoch_us(*start) + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _keyed(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; ~2% are near-copies of another document (one
    token appended) and a few are exact copies, so the dedup and
    near-duplicate operators have clusters to find."""
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    for i in rng.choice(n, max(1, n // 50), replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[rng.integers(0, n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    x = centers[labels] * 0.15 + rng.normal(0, 1, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim), flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``sf``.

    Each table draws from its own generator, so one table's values do not
    depend on another's size."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    rc, rs, rp = _rng(seed, "customer"), _rng(seed, "supplier"), _rng(seed, "part")
    ro, rl, re_ = _rng(seed, "orders"), _rng(seed, "lineitem"), _rng(seed, "events")
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _keyed("Customer", n_cust),
                "c_nationkey": pa.array(rc.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rc, -999.99, 9999.99, n_cust),
                "c_mktsegment": rc.choice(SEGMENTS, n_cust).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _keyed("Supplier", n_supp),
                "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rs, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rp.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rp.integers(1, 26, n_part)],
                "p_type": rp.choice(PART_TYPES, n_part).tolist(),
                "p_size": pa.array(rp.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(ro.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": ro.choice(["F", "O", "P"], n_ord).tolist(),
                "o_totalprice": _money(ro, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(ro, (1995, 1, 1), 2405, n_ord),
                "o_orderpriority": ro.choice(PRIORITIES, n_ord).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rl.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rl.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rl.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rl.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rl.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rl, 900.0, 105000.0, n_li),
                "l_discount": np.round(rl.uniform(0, 0.1, n_li), 2),
                "l_tax": np.round(rl.uniform(0, 0.08, n_li), 2),
                "l_returnflag": rl.choice(["A", "N", "R"], n_li).tolist(),
                "l_linestatus": rl.choice(["F", "O"], n_li).tolist(),
                "l_shipdate": _days(rl, (1995, 1, 2), 2499, n_li),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(
                    np.sort(_epoch_us(2024, 1, 1) + re_.integers(0, 30 * _US_PER_DAY, n_ev)),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(re_.integers(0, n_users, n_ev), pa.int64()),
                "event_type": re_.choice(EVENT_TYPES, n_ev).tolist(),
                "value": np.round(re_.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in re_.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(_rng(seed, "documents"), n_docs),
        "embeddings": _embeddings(_rng(seed, "embeddings"), n_emb),
    }


def write(out_dir: str, seed: int, sf: float) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
