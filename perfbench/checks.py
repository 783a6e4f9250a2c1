"""Output checks: a pure-Python replay of the edge-trigger alerting, and
an order-insensitive digest for comparing query results with DuckDB."""

from __future__ import annotations

import datetime as dt
import hashlib
import struct
from collections import Counter
from decimal import Decimal

import pyarrow.parquet as pq

# Record values the reference producer writes (KafkaProducer.java:38).
ALERT_MSG = "Alert: the amount of data suppressed the limit"
INFO_MSG = "Info: the amount of data is under the limit"


class EdgeTriggerReplay:
    """Replays the edge-trigger truth table over packet files: a NIC's
    batch total above ``limit`` is an alert; a record is due when the
    NIC is new or its alert flag changed since its last batch."""

    def __init__(self, limit: float):
        self.limit = limit
        self.last: dict[str, bool] = {}

    def expect(self, path: str) -> Counter:
        cols = pq.read_table(path, columns=["nif", "bytes"]).to_pydict()
        totals: dict[str, float] = {}
        for nif, size in zip(cols["nif"], cols["bytes"]):
            totals[nif] = totals.get(nif, 0.0) + size
        due: Counter = Counter()
        for nif, total in totals.items():
            alert = total > self.limit
            if self.last.get(nif) is not alert:
                due[ALERT_MSG if alert else INFO_MSG] += 1
            self.last[nif] = alert
        return due


def message_counts(records) -> Counter:
    """Counts of ALERT/INFO values among broker log records
    ``(key, value, timestamp)``; any other value counts as ``other``."""
    out: Counter = Counter()
    for _key, value, _ts in records:
        text = value.decode("utf-8") if value is not None else None
        out[text if text in (ALERT_MSG, INFO_MSG) else "other"] += 1
    return out


def _canon(v):
    if v is None:
        return ("none",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, (dt.datetime, dt.date)):
        return ("t", v.isoformat())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("y", bytes(v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((repr(_canon(k)), _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result; columns are put
    in name order, rows in canonical order, floats compared bitwise."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return len(canon), h.hexdigest()


def oracle_connection(table_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
        )
    return con


def oracle_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    columns = [d[0] for d in cur.description]
    return result_digest(columns, cur.fetchall())
