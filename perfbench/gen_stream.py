"""Seeded MQTT-message generator for the ``sensor_stream`` workload, and
the pure-Python replay its output is checked against.

Each device publishes one reading per second on its own topic
(``sensors/dev<NNN>``); the payload is the reference's wire JSON
(``timestamp_utc`` ISO-8601 + three readings, producer.c:136-141). The
messages are split into files, one micro-batch each. Within a file the
rows are shuffled, and a share of messages is held back into the next
file, so event time arrives out of order both inside and across
batches. Timestamps are unique per device, so the per-device order is
defined. A share of payloads is malformed (truncated JSON or plain
text), and a share omits ``temp_outdoor_celsius`` (the consumer's
888.8 default, consumer.cpp:124-131).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SENTINEL_MISSING = 888.8
_START = np.datetime64("2024-01-01T00:00:00", "s")


@dataclass
class StreamInput:
    """What the generator wrote: file paths in feed order, the rows
    generated and corrupted per file, and the good records per file
    (device, iso timestamp, value) for the replay."""

    files: list[str] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    corrupt: list[int] = field(default_factory=list)
    records: list[list[tuple[str, str, float]]] = field(default_factory=list)


def _payload(ts: str, outdoor: float | None, indoor: float, rh: float) -> str:
    """The wire JSON, as json.dumps renders it (floats in repr form)."""
    head = f'{{"timestamp_utc": "{ts}", '
    if outdoor is not None:
        head += f'"temp_outdoor_celsius": {outdoor!r}, '
    return head + f'"temp_indoor_celsius": {indoor!r}, "rh_outdoor": {rh!r}}}'


def generate(
    out_dir: str,
    seed: int,
    *,
    n_files: int,
    rows_per_file: int,
    n_devices: int = 64,
    corrupt_share: float = 0.02,
    missing_share: float = 0.01,
    late_share: float = 0.05,
) -> StreamInput:
    """Write ``n_files`` parquet files of (topic, qos, payload) rows to
    ``out_dir`` and return what was written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    topics = [f"sensors/dev{d:03d}" for d in range(n_devices)]
    qos = rng.integers(1, 3, n_devices).astype(np.int32)
    base_temp = rng.uniform(-5.0, 30.0, n_devices)
    next_tick = np.zeros(n_devices, dtype=np.int64)
    held_dev = held_tick = np.zeros(0, dtype=np.int64)  # carried into the next file
    out = StreamInput()
    for f in range(n_files):
        devs = rng.integers(0, n_devices, rows_per_file - len(held_dev))
        # tick = per-device running count: the k-th message of a device gets tick k
        order = np.argsort(devs, kind="stable")
        ranks = np.empty(len(devs), dtype=np.int64)
        counts = np.bincount(devs, minlength=n_devices)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        ranks[order] = np.arange(len(devs)) - np.repeat(starts, counts)
        ticks = next_tick[devs] + ranks
        next_tick += counts
        dev = np.concatenate((held_dev, devs))
        tick = np.concatenate((held_tick, ticks))
        perm = rng.permutation(len(dev))
        dev, tick = dev[perm], tick[perm]
        # hold back a share of this file's messages (never in the last file)
        n_late = int(len(dev) * late_share) if f < n_files - 1 else 0
        held_dev, held_tick, dev, tick = dev[:n_late], tick[:n_late], dev[n_late:], tick[n_late:]
        n = len(dev)
        kind = rng.random(n)
        outdoor = np.round(base_temp[dev] + np.round(rng.normal(0.0, 2.0, n), 1), 1)
        indoor = np.round(rng.uniform(18.0, 26.0, n), 1)
        rh = np.round(rng.uniform(20.0, 90.0, n), 1)
        stamps = np.char.add(np.datetime_as_string(_START + tick.astype("timedelta64[s]"), unit="s"), "Z")
        payloads, records = [], []
        for i in range(n):
            ts, d, k = str(stamps[i]), int(dev[i]), kind[i]
            value = None if k >= 1.0 - missing_share else float(outdoor[i])
            p = _payload(ts, value, float(indoor[i]), float(rh[i]))
            if k < corrupt_share:
                p = p[: len(p) // 2] if k < corrupt_share / 2 else "ERR sensor offline"
            else:
                records.append((topics[d], ts, SENTINEL_MISSING if value is None else value))
            payloads.append(p)
        path = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(
            pa.table({
                "topic": pa.array([topics[d] for d in dev], pa.string()),
                "qos": pa.array(qos[dev]),
                "payload": pa.array(payloads, pa.string()),
            }),
            path,
        )
        out.files.append(path)
        out.rows.append(n)
        out.corrupt.append(int((kind < corrupt_share).sum()))
        out.records.append(records)
    return out


def replay(records_per_file: list[list[tuple[str, str, float]]]) -> dict[str, list[tuple[str, float, float | None]]]:
    """Expected per-device deltas when each file is one micro-batch:
    inside a batch a device's rows are taken in event-time order, and
    each row's delta is its value minus the previous row's (across
    batches, the previous batch's last row in that order; None for a
    device's first row ever)."""
    prev: dict[str, float] = {}
    out: dict[str, list[tuple[str, float, float | None]]] = {}
    for records in records_per_file:
        by_dev: dict[str, list[tuple[str, float]]] = {}
        for dev, ts, value in records:
            by_dev.setdefault(dev, []).append((ts, value))
        for dev, rows in by_dev.items():
            rows.sort()
            for ts, value in rows:
                p = prev.get(dev)
                out.setdefault(dev, []).append((ts, value, None if p is None else value - p))
                prev[dev] = value
    return out
