"""Property-based check of the O13 edge-trigger semantic
(KafkaProducer.java:34-41): for ANY sequence of per-key window totals,
the engine's lag-window formulation must emit exactly what the
reference's state machine emits — first observation always, then only on
alert-flag flips.

Hypothesis drives randomized sequences through a DataFrame built the
same way streaming/batch_oracle.py::stream_edge_trigger_alerts builds
its flagged frame; the expected emissions come from a direct Python
simulation of the ConcurrentMap state machine."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F

LIMIT = 100.0

totals_strategy = st.dictionaries(
    keys=st.sampled_from(["eth0", "eth1", "lo"]),
    values=st.lists(
        st.floats(min_value=0.0, max_value=200.0, allow_nan=False), min_size=1, max_size=8
    ),
    min_size=1,
    max_size=3,
)


def _reference_state_machine(seq: list[float]) -> list[int]:
    """Indices of emissions per the reference semantics."""
    out, prev = [], None
    for i, total in enumerate(seq):
        is_alert = total > LIMIT
        if prev is None or prev != is_alert:
            out.append(i)
        prev = is_alert
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(totals_strategy)
def test_lag_window_equals_reference_state_machine(spark, data):
    t0 = datetime(2024, 1, 1)
    rows = [
        (nif, i, float(total), t0 + timedelta(hours=i))
        for nif, seq in data.items()
        for i, total in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "nif string, seq int, total_bytes double, window_start timestamp"
    )
    w = Window.partitionBy("nif").orderBy("window_start")
    flagged = df.withColumn("is_alert", F.col("total_bytes") > LIMIT).withColumn(
        "prev_alert", F.lag("is_alert").over(w)
    )
    emitted = flagged.filter(
        F.col("prev_alert").isNull() | (F.col("is_alert") != F.col("prev_alert"))
    )
    got = {
        nif: sorted(r["seq"] for r in grp)
        for nif, grp in __import__("itertools").groupby(
            sorted(emitted.collect(), key=lambda r: r["nif"]), key=lambda r: r["nif"]
        )
    }
    expected = {
        nif: _reference_state_machine(seq) for nif, seq in data.items()
    }
    assert got == expected


# Per micro-batch: NIC -> its packets' byte counts in that batch. Whole
# numbers keep every per-batch sum exact in any summation order.
batches_strategy = st.lists(
    st.dictionaries(
        keys=st.sampled_from(["eth0", "eth1", "lo"]),
        values=st.lists(st.integers(min_value=0, max_value=80), min_size=1, max_size=3),
        min_size=1,
        max_size=3,
    ),
    min_size=2,
    max_size=5,
)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches_strategy, st.data())
def test_edge_trigger_stream_equals_reference_state_machine_across_restart(
    spark, batches, data
):
    """The streaming state machine (``edge_trigger_stream``) over random
    multi-batch per-key packets, restarted once mid-sequence on the same
    checkpoint, emits exactly what ``_reference_state_machine`` emits
    over each key's sequence of per-batch totals."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_test_spark.streaming.pipeline import (
        edge_trigger_stream,
        packet_stream_from_dir,
    )

    restart_at = data.draw(st.integers(min_value=1, max_value=len(batches) - 1))
    work = tempfile.TemporaryDirectory(prefix="edge-prop-")
    src, chk = os.path.join(work.name, "in"), os.path.join(work.name, "chk")
    os.makedirs(src)
    emitted: dict[int, list[tuple]] = {}

    def sink(batch_df, batch_id):  # a replayed batch overwrites its own rows
        emitted[batch_id] = [
            (r["nif"], r["total_bytes"], r["is_alert"]) for r in batch_df.collect()
        ]

    def write(i):
        rows = [(nif, float(b)) for nif, bs in batches[i].items() for b in bs]
        pq.write_table(
            pa.table({
                "nif": [r[0] for r in rows],
                "bytes": [r[1] for r in rows],
                "ts": pa.array([datetime(2024, 1, 1)] * len(rows), type=pa.timestamp("us")),
            }),
            os.path.join(src, f"b{i}.parquet"),
        )

    def run(batch_ids):
        totals = packet_stream_from_dir(spark, src).select(
            "nif", F.col("bytes").alias("total_bytes")
        )
        q = (
            edge_trigger_stream(totals, max_limit=LIMIT)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            for i in batch_ids:
                write(i)
                q.processAllAvailable()
        finally:
            q.stop()

    with work:
        run(range(restart_at))
        run(range(restart_at, len(batches)))

    per_key: dict[str, list[tuple[int, float]]] = {}
    for i, batch in enumerate(batches):
        for nif, bs in batch.items():
            per_key.setdefault(nif, []).append((i, float(sum(bs))))
    expected = {i: [] for i in range(len(batches))}
    for nif, seq in per_key.items():
        for j in _reference_state_machine([total for _, total in seq]):
            i, total = seq[j]
            expected[i].append((nif, total, total > LIMIT))
    got = {i: sorted(emitted.get(i, [])) for i in range(len(batches))}
    assert got == {i: sorted(rows) for i, rows in expected.items()}
    assert sorted(emitted) == list(range(len(batches)))
