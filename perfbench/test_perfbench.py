"""Self-tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from perfbench.checks import (
    ALERT_MSG,
    INFO_MSG,
    EdgeTriggerReplay,
    message_counts,
    result_digest,
)
from perfbench.inputs import REFERENCE_MAX_LIMIT, PacketShape, PacketSource, TableScale, write_tables
from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS
from perfbench.stats import InsufficientSamples, highest_supported, median, percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHAPE = PacketShape(nics=16, packets=5, flips=4)
TINY = TableScale(customers=30, suppliers=5, parts=20, orders=60,
                  events=50, users=7, documents=12, embeddings=16)


def test_percentile_refuses_thin_tail():
    xs = list(range(1, 100))  # 99 samples
    assert percentile(xs, 89) == 89.0  # 10 samples beyond
    with pytest.raises(InsufficientSamples):
        percentile(xs, 90)  # only 9 beyond
    with pytest.raises(InsufficientSamples):
        percentile(list(range(15)), 75)
    assert highest_supported(list(range(15))) is None
    assert highest_supported(list(range(100))) == (90, 89.0)
    assert highest_supported(list(range(40))) == (75, 29.0)
    assert median([3, 1, 2]) == 2.0


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _packet_files(seed: int, staging: str, batches: int = 3) -> list[bytes]:
    src = PacketSource(SHAPE, seed, staging, batches)
    return [_read(src.write(b)) for b in range(batches)]


def _table_files(seed: int, out_dir: str) -> dict[str, bytes]:
    write_tables(TINY, seed, out_dir)
    return {n: _read(os.path.join(out_dir, n)) for n in sorted(os.listdir(out_dir))}


def test_same_seed_gives_identical_files(tmp_path):
    first = _packet_files(7, str(tmp_path / "a"))
    assert first == _packet_files(7, str(tmp_path / "b"))
    assert first != _packet_files(8, str(tmp_path / "c"))
    tables = _table_files(7, str(tmp_path / "ta"))
    assert tables == _table_files(7, str(tmp_path / "tb"))
    assert tables != _table_files(8, str(tmp_path / "tc"))


def _records(due: Counter) -> list[tuple]:
    return [(None, msg.encode(), 0) for msg, n in due.items() for _ in range(n)]


def test_generator_flips_the_stated_share(tmp_path):
    src = PacketSource(SHAPE, 3, str(tmp_path), 4)
    replay = EdgeTriggerReplay(REFERENCE_MAX_LIMIT)
    first = replay.expect(src.write(0))
    assert sum(first.values()) == SHAPE.nics
    for b in range(1, 4):
        assert sum(replay.expect(src.write(b)).values()) == SHAPE.flips


def test_stream_check_flags_dropped_or_duplicated_alert(tmp_path):
    src = PacketSource(SHAPE, 5, str(tmp_path), 3)
    replay = EdgeTriggerReplay(REFERENCE_MAX_LIMIT)
    replay.expect(src.write(0))
    due = replay.expect(src.write(1))
    records = _records(due)
    assert message_counts(records) == due
    assert message_counts(records[1:]) != due  # dropped
    assert message_counts(records + records[:1]) != due  # duplicated
    flipped = ALERT_MSG if records[0][1] == INFO_MSG.encode() else INFO_MSG
    assert message_counts([(None, flipped.encode(), 0)] + records[1:]) != due
    assert message_counts(records[1:] + [(None, b"garbage", 0)]) != due


def test_result_digest_is_order_insensitive():
    rows = [(1, "a", 0.5), (2, "b", None)]
    base = result_digest(["k", "s", "x"], rows)
    assert base == result_digest(["k", "s", "x"], rows[::-1])
    assert base == result_digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows])
    assert base != result_digest(["k", "s", "x"], [(1, "a", 0.5000001), rows[1]])
    assert base != result_digest(["k", "s", "x"], rows + rows[:1])


def test_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
