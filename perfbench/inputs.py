"""Seeded input generators. The program under test sees only the files
written here; the same seed always yields byte-identical files."""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's configured byte limit (traffic_limits 'max' row). The
# generator sizes per-NIC batch totals well clear of it on either side,
# so float summation order can never decide a NIC's state.
REFERENCE_MAX_LIMIT = 150.0
ALERT_TOTAL = (180.0, 260.0)
INFO_TOTAL = (40.0, 120.0)

PACKET_SCHEMA = pa.schema(
    [("nif", pa.string()), ("bytes", pa.float64()), ("ts", pa.timestamp("us"))]
)
_EPOCH = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class PacketShape:
    """One micro-batch file: ``nics`` NICs x ``packets`` packets each;
    after the first batch exactly ``flips`` NICs change state per batch,
    so the sink carries that many records every batch."""

    nics: int
    packets: int
    flips: int

    @property
    def rows(self) -> int:
        return self.nics * self.packets


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def nic_names(nics: int) -> list[str]:
    return [f"nic{k:05d}" for k in range(nics)]


def alert_states(shape: PacketShape, seed: int, batches: int) -> np.ndarray:
    """Intended alert flag per (batch, NIC): random at batch 0, then
    exactly ``shape.flips`` NICs flip per batch."""
    states = np.empty((batches, shape.nics), dtype=bool)
    states[0] = _rng(seed, 0).random(shape.nics) < 0.5
    for b in range(1, batches):
        flip = _rng(seed, 1, b).choice(shape.nics, shape.flips, replace=False)
        states[b] = states[b - 1]
        states[b, flip] = ~states[b, flip]
    return states


def packet_table(shape: PacketShape, seed: int, batch: int, alert: np.ndarray) -> pa.Table:
    """Packets of one batch: each NIC's packet sizes split a total drawn
    from the alert or the info range, in a seeded random order."""
    rng = _rng(seed, 2, batch)
    lo = np.where(alert, ALERT_TOTAL[0], INFO_TOTAL[0])
    hi = np.where(alert, ALERT_TOTAL[1], INFO_TOTAL[1])
    totals = lo + (hi - lo) * rng.random(shape.nics)
    weights = rng.random((shape.nics, shape.packets)) + 0.05
    sizes = weights / weights.sum(axis=1, keepdims=True) * totals[:, None]
    order = rng.permutation(shape.rows)
    nif = np.repeat(np.array(nic_names(shape.nics), dtype=object), shape.packets)
    ts_us = (batch * 300 + rng.random(shape.rows) * 300) * 1e6
    base = int((_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.table(
        {
            "nif": pa.array(nif[order], pa.string()),
            "bytes": pa.array(sizes.reshape(-1)[order], pa.float64()),
            "ts": pa.array(base + ts_us.astype(np.int64)[order], pa.timestamp("us")),
        },
        schema=PACKET_SCHEMA,
    )


class PacketSource:
    """Writes batch ``i`` of a seeded packet stream to a staging file,
    ready to be renamed into the stream's input directory."""

    def __init__(self, shape: PacketShape, seed: int, staging: str, max_batches: int):
        self.shape, self.seed, self.staging = shape, seed, staging
        self.states = alert_states(shape, seed, max_batches)
        os.makedirs(staging, exist_ok=True)

    def write(self, batch: int) -> str:
        path = os.path.join(self.staging, f"batch-{batch:06d}.parquet")
        pq.write_table(packet_table(self.shape, self.seed, batch, self.states[batch]), path)
        return path


# --- batch tables for the query mix ---------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query filter stream group"
).split()


@dataclass(frozen=True)
class TableScale:
    """Row counts of the generated star schema (lineitem ~ 4 x orders)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(lo + (hi - lo) * rng.random(n), 2)


def _days(rng: np.random.Generator, start: dt.datetime, span_days: int, n: int) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    day = rng.integers(0, span_days, n).astype(np.int64) * 86_400_000_000
    return pa.array(base + day, pa.timestamp("us"))


def write_tables(scale: TableScale, seed: int, out_dir: str) -> dict[str, int]:
    """Write region..embeddings as ``<name>.parquet`` under ``out_dir``
    with the schemas of the star-schema test tables; return row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 3)
    s = scale
    n_line = s.orders * 4
    text_rows = []
    for _ in range(s.documents):
        n_words = int(rng.integers(8, 100))
        text_rows.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words)))
    emb = rng.normal(size=(s.embeddings, 64)).astype(np.float64)
    labels = rng.integers(0, 8, s.embeddings)
    emb += 2.0 * _rng(seed, 4).normal(size=(8, 64))[labels]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables = {
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
                "c_custkey": pa.array(np.arange(s.customers), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
                "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s.customers)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(s.suppliers), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
                "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(s.parts), pa.int64()),
                "p_name": [
                    f"{WORDS[a]} {WORDS[b]}"
                    for a, b in rng.integers(0, len(WORDS), (s.parts, 2))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
                "p_type": [
                    ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"][i]
                    for i in rng.integers(0, 5, s.parts)
                ],
                "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
                "p_retailprice": _money(rng, 900.0, 2000.0, s.parts),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
                "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, s.orders)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
                "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, s.orders),
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, s.orders)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, s.orders, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, s.parts, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, s.suppliers, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
                "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
                "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(s.events), pa.int64()),
                "ts": pa.array(
                    int((_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, s.events)),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, s.users, s.events), pa.int64()),
                "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, s.events)],
                "value": _money(rng, 0.01, 490.0, s.events),
                "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, s.events)],
            }
        ),
        "documents": pa.table(
            {
                "doc_id": pa.array(np.arange(s.documents), pa.int64()),
                "text": text_rows,
                "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), s.documents)],
                "source": [f"src{i % 20}" for i in range(s.documents)],
                "n_chars": pa.array([len(t) for t in text_rows], pa.int64()),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
