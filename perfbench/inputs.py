"""Seeded sf0.1 input tables for the benchmark.

The tables follow the engine's fixture schemas (a TPC-H-like star plus
``events`` and ``documents``) at the row counts of scale factor 0.1.
The same seed writes the same parquet bytes, so statement parameters and
expected digests depend on the seed alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCUMENTS = 5_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = ("a the data spark query table column row key value hash sort merge "
         "join filter group agg window stream batch scan index part line "
         "order customer vector fast slow big small plan cost cache shard "
         "page block log").split()

ORDER_EPOCH = np.datetime64("1992-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
DAY_US = 86_400 * 1_000_000


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return ORDER_EPOCH + rng.integers(lo, hi, n) * np.timedelta64(1, "D")


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents; a tenth are exact copies and a tenth are
    one-word edits of an earlier document, so every dedup kernel finds
    pairs."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        roll = rng.random()
        if i > 10 and roll < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[
                int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(12, 70))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, N_DOCUMENTS),
        "source": _pick(rng, [f"src{i}" for i in range(20)], N_DOCUMENTS),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    ship_lo = (np.datetime64("1992-01-02") - np.datetime64("1992-01-01")).astype(int)
    ship_hi = (np.datetime64("1998-12-01") - np.datetime64("1992-01-01")).astype(int)
    order_hi = (np.datetime64("1998-08-03") - np.datetime64("1992-01-01")).astype(int)
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": _names("Customer", N_CUSTOMER),
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": _names("Supplier", N_SUPPLIER),
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)}),
        "orders": pa.table({
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 900.0, 500_000.0, N_ORDERS),
            "o_orderdate": _days(rng, 0, order_hi, N_ORDERS),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
            "l_partkey": rng.integers(0, 20_000, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, ship_lo, ship_hi, N_LINEITEM)}),
        "events": pa.table({
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": EVENT_EPOCH + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, N_EVENTS),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.0, 200.0, N_EVENTS),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, N_EVENTS)])}),
        "documents": _documents(rng),
    }


def write_tables(seed: int, out_dir: str) -> dict[str, pa.Table]:
    """Write every table as ``<out_dir>/<name>.parquet``; return them."""
    tables = make_tables(seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
