"""Seeded input generation. Every input a workload feeds the program is
made here, from the seed alone, before any timing starts.

- :func:`write_tables`: the TPC-H-like star schema plus ``events`` and
  ``documents`` that the catalog queries read, with the column names,
  types and value ranges of the repository's test tables. ``scale`` 1.0
  gives the row counts of the sf0.1 test set.
- :func:`write_http_inputs`: URL/body rows for the enrichment paths.
- :func:`write_change_slices`: upsert/delete change slices with skewed
  keys and out-of-order sequence numbers.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en"] * 7 + ["es", "fr", "zh"]

DAY_US = 86_400 * 1_000_000


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict[str, pa.Array | np.ndarray | list]) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the catalog tables as ``<out_dir>/<name>.parquet``; returns
    row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(50, int(20_000 * scale))
    n_ord = max(100, int(150_000 * scale))
    n_ev = max(100, int(100_000 * scale))
    n_users = max(10, int(1_500 * scale))
    n_docs = max(20, int(5_000 * scale))
    rows: dict[str, int] = {}

    rows["region"] = _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })

    order_day = rng.integers(0, 2404, n_ord)
    rows["orders"] = _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts_us("1995-01-01", order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    perm = rng.permutation(n_li)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    rows["lineitem"] = _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": l_order[perm],
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": l_linenumber[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts_us("1995-01-01", ship_day[perm] * DAY_US),
    })

    # events.ts is stored as TIMESTAMP(NANOS), like the repository's test
    # set, so loading goes through the nanos-as-long conversion path.
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    start_ns = np.datetime64("2024-01-01", "ns").astype(np.int64)
    rows["events"] = _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start_ns + ev_us * 1000, type=pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, len(texts)))])  # exact duplicate
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    rows["documents"] = _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return rows


def write_http_inputs(
    path: str, seed: int, base_url: str, slices: int, rows_per_slice: int,
    err_share: float, files: int,
) -> dict[int, tuple[str, str]]:
    """URL/body rows as ``files`` parquet files under ``path``; each file
    holds a share of every slice, so one slice scans as ``files`` tasks.
    A seeded ``err_share`` of URLs asks the stub for a non-2xx status.
    Returns ``row_id -> (url, body)``."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = slices * rows_per_slice
    row_id = np.arange(n, dtype=np.int64)
    tags = rng.integers(0, 2**32, n, dtype=np.uint64)
    err = rng.random(n) < err_share
    codes = rng.choice([404, 500, 503], n)
    urls = [
        f"{base_url}/err/{c}/k{i}-{t:08x}" if e else f"{base_url}/item/k{i}-{t:08x}"
        for i, t, e, c in zip(row_id, tags, err, codes)
    ]
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype=np.uint8)
    bodies = [
        alphabet[rng.integers(0, len(alphabet), k)].tobytes().decode()
        for k in rng.integers(40, 400, n)
    ]
    slice_id = (row_id // rows_per_slice).astype(np.int32)
    for f in range(files):
        idx = np.flatnonzero(row_id % files == f)
        _write(f"{path}/part-{f}.parquet", {
            "row_id": row_id[idx],
            "slice": slice_id[idx],
            "url": [urls[i] for i in idx],
            "body": [bodies[i] for i in idx],
        })
    return {int(i): (u, b) for i, u, b in zip(row_id, urls, bodies)}


def write_change_slices(
    path: str, seed: int, slices: int, rows_per_slice: int, key_space: int,
    delete_share: float, hot_share: float,
) -> list[str]:
    """Change slices ``<path>/slice-<i>.parquet``: upserts and deletes. A
    ``hot_share`` of rows hits Zipf-skewed hot keys, updated again and
    again; the rest draws uniformly from ``key_space``, so most of those
    keys are new and the folded state grows with every slice. ``seq`` runs
    forward with a backwards jitter of up to three slices, so later slices
    carry changes older than rows already folded in; ``change_id`` is
    unique and breaks ``seq`` ties."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(slices):
        base = i * rows_per_slice + np.arange(rows_per_slice)
        hot = rng.random(rows_per_slice) < hot_share
        keys = np.where(
            hot,
            (rng.zipf(1.3, rows_per_slice) - 1) % key_space,
            rng.integers(0, key_space, rows_per_slice),
        )
        p = f"{path}/slice-{i:04d}.parquet"
        _write(p, {
            "key": keys.astype(np.int64),
            "seq": (base - rng.integers(0, 3 * rows_per_slice, rows_per_slice)).astype(np.int64),
            "change_id": base.astype(np.int64),
            "op": np.where(rng.random(rows_per_slice) < delete_share, "d", "u"),
            "amount": np.round(rng.uniform(0, 1000, rows_per_slice), 2),
            "payload": [f"p{x:x}" for x in rng.integers(0, 2**40, rows_per_slice)],
        })
        out.append(p)
    return out
