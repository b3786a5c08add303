"""Seeded benchmark inputs, cached on disk.

Every input is a pure function of ``(kind, seed, size)``: the same seed
gives byte-identical files.  Files live under ``<work>/cache`` named by
that triple plus a hash of the generator sources (this module and
``atr_adaptive_laguerre_spark.data.corpus``), so editing a generator
invalidates its cached files instead of silently measuring stale data.

Doc corpora have the engine's input shape
``(doc_id string, tokens list<int32>, n_tok int32, source string)``.
The point-in-time tables have the ``events`` / ``orders`` schemas of the
catalog's sf tables.
"""

from __future__ import annotations

import hashlib
import inspect
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from atr_adaptive_laguerre_spark.data import corpus as corpus_mod


@dataclass(frozen=True)
class CorpusShape:
    """A doc corpus of ``data.corpus`` shape: ``n_docs`` docs in
    [min_len, max_len] with every ``heavy_every``-th doc at ``heavy_len``."""
    n_docs: int
    min_len: int = 64
    max_len: int = 1024
    heavy_every: int = 97
    heavy_len: int = 8192

    def key(self) -> str:
        return "-".join(str(v) for v in self.__dict__.values())


@dataclass(frozen=True)
class TableShape:
    """Point-in-time tables: ``n_events`` events of ``n_users`` users over
    ``days`` days, and ``n_orders`` orders of ``n_customers`` customers
    dated over the ``order_days`` days before the last event."""
    n_events: int
    n_users: int
    n_orders: int
    n_customers: int
    days: int = 30
    order_days: int = 200

    def key(self) -> str:
        return "-".join(str(v) for v in self.__dict__.values())


def _generator_hash() -> str:
    h = hashlib.sha256()
    for mod in (corpus_mod, inspect.getmodule(_generator_hash)):
        h.update(inspect.getsource(mod).encode())
    return h.hexdigest()[:10]


_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
_ORDER_STATUS = np.array(["O", "F", "P"])
_ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                            "4-NOT SPECIFIED", "5-LOW"])
_T0_US = 1_704_067_200_000_000          # 2024-01-01 00:00:00 UTC


def write_tables(dir_path: str, shape: TableShape, seed: int) -> None:
    """``events`` ordered by time with ``event_id`` = time rank, values at
    cent precision; ``orders`` at midnight dates that interleave with the
    events, so the as-of join matches varying orders and sees ties on
    (customer, date) like the TPC-H-style sf tables do."""
    rng = np.random.default_rng([seed, 0xE7E5])
    span_us = shape.days * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, size=shape.n_events)) + _T0_US
    events = pa.table({
        "event_id": pa.array(np.arange(shape.n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, shape.n_users,
                                         size=shape.n_events)),
        "event_type": pa.array(
            _EVENT_TYPES[rng.integers(0, 5, size=shape.n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, shape.n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, size=shape.n_events)]),
    })
    day_us = 86_400_000_000
    first_day = _T0_US // day_us - (shape.order_days - shape.days)
    days = rng.integers(first_day, first_day + shape.order_days,
                        size=shape.n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(shape.n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, shape.n_customers,
                                           size=shape.n_orders)),
        "o_orderstatus": pa.array(
            _ORDER_STATUS[rng.integers(0, 3, size=shape.n_orders)]),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000.0, 500000.0, shape.n_orders), 2)),
        "o_orderdate": pa.array(days * day_us, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            _ORDER_PRIORITY[rng.integers(0, 5, size=shape.n_orders)]),
    })
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(events, os.path.join(dir_path, "events.parquet"))
    pq.write_table(orders, os.path.join(dir_path, "orders.parquet"))


class InputCache:
    """Generates each input once per (kind, seed, size, generator hash)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._gen = _generator_hash()

    def _path(self, kind: str, key: str, seed: int, ext: str) -> str:
        return os.path.join(self.root,
                            f"{kind}_s{seed}_{key}_{self._gen}{ext}")

    def corpus(self, shape: CorpusShape, seed: int) -> str:
        path = self._path("corpus", shape.key(), seed, ".parquet")
        if not os.path.exists(path):
            tmp = path + ".tmp"
            corpus_mod.write_corpus_parquet(
                tmp, shape.n_docs, seed=seed, min_len=shape.min_len,
                max_len=shape.max_len, heavy_every=shape.heavy_every,
                heavy_len=shape.heavy_len)
            os.replace(tmp, path)
        return path

    def tables(self, shape: TableShape, seed: int) -> str:
        path = self._path("tables", shape.key(), seed, "")
        if not os.path.exists(path):
            tmp = path + ".tmp"
            write_tables(tmp, shape, seed)
            os.replace(tmp, path)
        return path
