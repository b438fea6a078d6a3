"""Seeded inputs: G-Stream point files and a small TPC-H-style table set.

Everything here is a pure function of the seed, so two runs with one
seed see the same inputs.  Point coordinates are multiples of 1e-4
written in their shortest round-trip form, so the stream source reads
back exactly the in-memory arrays returned here.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq


def _blob_points(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    which = rng.integers(0, len(centers), n)
    raw = centers[which] + rng.normal(0.0, 1.0, (n, centers.shape[1]))
    return np.round(raw * 1e4) / 1e4


def _write_point_csv(path: str, x: np.ndarray, labels: np.ndarray, ids: np.ndarray) -> None:
    cols = {f"x{i}": x[:, i] for i in range(x.shape[1])}
    cols["label"] = pa.array(labels, pa.int32())
    cols["id"] = pa.array(ids, pa.int64())
    # Arrow prints each double in its shortest round-trip form
    pacsv.write_csv(pa.table(cols), path, pacsv.WriteOptions(include_header=False))


def stage_point_files(
    out_dir: str, seed: int, sizes: list[int], dim: int, n_blobs: int
) -> tuple[np.ndarray, list[tuple[np.ndarray, np.ndarray]]]:
    """Write one CSV batch file per entry of ``sizes`` (its point count) in
    the reference's positional layout (x0..x{dim-1}, label, id) and return
    (two seed points, [(x, ids)] per file).

    Files get strictly increasing mtimes: the file source orders
    micro-batches by mtime, and files written in a tight loop can share one.
    """
    rng = np.random.default_rng(seed)
    centers = rng.uniform(-10.0, 10.0, (n_blobs, dim))
    seed_points = _blob_points(rng, 2, centers)
    os.makedirs(out_dir, exist_ok=True)
    base = datetime.now().timestamp() - len(sizes) - 10
    batches = []
    next_id = 3
    for i, rows in enumerate(sizes):
        x = _blob_points(rng, rows, centers)
        ids = np.arange(next_id, next_id + rows, dtype=np.int64)
        next_id += rows
        labels = rng.integers(0, n_blobs, rows)
        path = os.path.join(out_dir, f"batch-{i:05d}.csv")
        _write_point_csv(path, x, labels, ids)
        os.utime(path, (base + i, base + i))
        batches.append((x, ids))
    return seed_points, batches


# --- operator tables -------------------------------------------------------

_EPOCH = datetime(1970, 1, 1)
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line column order small sort group filter query big window stream data "
    "join vector customer"
).split()
_PART_ADJ = "red blue hot cold small large old new".split()
_PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()


def _ts_us(start: datetime, span_days: float, rng, n: int, whole_days: bool) -> pa.Array:
    lo = int((start - _EPOCH).total_seconds() * 1e6)
    span = int(span_days * 86400e6)
    us = lo + rng.integers(0, span, n)
    if whole_days:
        us -= us % int(86400e6)
    return pa.array(us, pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables the operator registry reads, with the column
    names, types and value ranges of the TPC-H-style fixtures, at a scale
    of ``sf`` (sf 0.01: 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n) * 100) / 100

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_dates = _ts_us(datetime(1995, 1, 1), 2404, rng, n_ord, whole_days=True)
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": order_dates,
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_li)
    ship_us = (
        order_dates.to_numpy(zero_copy_only=False).astype("datetime64[us]").astype(np.int64)[l_order]
        + rng.integers(1, 122, n_li) * int(86400e6)
    )
    put("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship_us, pa.timestamp("us")),
    })
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(datetime(2024, 1, 1), 30, rng, n_ev, whole_days=False),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(25.0, n_ev) * 100) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 80))])
             for _ in range(n_doc)]
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })

