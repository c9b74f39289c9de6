"""Seeded envelope spools: the benchmark's stand-in for a Redpanda broker.

A spool is a directory of Parquet files in the Kafka envelope shape
(`ENVELOPE_DDL`), read by a file-stream source. Rows are derived from the
`events` table plus the seed: each replica of `events` gets its own offset
range, so offsets stay unique per partition while event dates stay inside
the table's ~30 days. The seed picks the offset base, the partition salt
and the payload amounts.

Two topics in the reference's two payload formats:
  - `md_events` (JSON),
  - `md_ticks` (MessagePack, decoded by the package's Arrow UDF).

Everything here is plain numpy/pyarrow, independent of the package, so
the keys a spool holds can be checked against the sink without trusting
the code under test.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENVELOPE_DDL = (
    "kafka_topic string, kafka_partition long, kafka_offset long, "
    "kafka_timestamp long, kafka_key string, value binary"
)

JSON_TOPIC = "md_events"
MSGPACK_TOPIC = "md_ticks"
PARTITIONS = 4

_SCHEMA = pa.schema(
    [
        ("kafka_topic", pa.string()),
        ("kafka_partition", pa.int64()),
        ("kafka_offset", pa.int64()),
        ("kafka_timestamp", pa.int64()),
        ("kafka_key", pa.string()),
        ("value", pa.binary()),
    ]
)


# -- a minimal MessagePack encoder (the payloads' maps, str, int, float) ----
def _mp(obj, out: bytearray) -> None:
    if isinstance(obj, int):
        out += b"\xd3" + struct.pack(">q", obj)
    elif isinstance(obj, float):
        out += b"\xcb" + struct.pack(">d", obj)
    elif isinstance(obj, str):
        b = obj.encode("utf-8")
        out += (bytes([0xA0 | len(b)]) if len(b) < 32 else b"\xd9" + bytes([len(b)])) + b
    elif isinstance(obj, dict):
        out.append(0x80 | len(obj))  # fixmap: payload maps have < 16 keys
        for k, v in obj.items():
            _mp(k, out)
            _mp(v, out)
    else:
        raise TypeError(type(obj))


def msgpack_bytes(obj) -> bytes:
    out = bytearray()
    _mp(obj, out)
    return bytes(out)


# -- source rows ------------------------------------------------------------
class EventSource:
    """The `events` table as numpy columns, read once with pyarrow."""

    def __init__(self, data_dir: str):
        t = pq.read_table(
            os.path.join(data_dir, "events.parquet"),
            columns=["ts", "user_id", "event_type", "value"],
        )
        self.ts_ms = t["ts"].cast(pa.int64()).to_numpy() // 1000
        self.user_id = t["user_id"].to_numpy()
        self.event_type = np.array(t["event_type"].to_pylist(), dtype=object)
        self.value = t["value"].to_numpy()
        self.n = len(self.ts_ms)


class TopicStream:
    """Offset allocator for one topic: the n-th row ever produced gets
    `base + n` as its offset, so every spool file of a topic holds fresh,
    unique keys unless a caller re-delivers on purpose."""

    def __init__(self, topic: str, fmt: str, src: EventSource, rng: np.random.Generator):
        self.topic = topic
        self.fmt = fmt
        self.src = src
        self.base = int(rng.integers(1_000, 1_000_000))
        self.salt = int(rng.integers(0, PARTITIONS))
        self.noise = int(rng.integers(0, 2**31))
        self.rng = rng
        self.produced = 0
        self._keys: list[np.ndarray] = []  # packed keys of every fresh row

    def rows(self, n: int) -> pa.Table:
        idx = self._fresh(n)
        return self._record(self._table(idx, idx))

    def redeliver(self, n: int, upto: int) -> pa.Table:
        """`n` rows drawn from the first `upto` produced rows (those an
        earlier run committed), keys and payload unchanged: what a
        consumer sees when a rebalance replays offsets it already read."""
        idx = np.sort(self.rng.choice(upto, size=min(n, upto), replace=False))
        return self._table(idx, idx)

    def resend(self, n: int) -> pa.Table:
        """`n` earlier payloads sent again under fresh offsets: content
        duplicates that only a content dedup can remove."""
        payload = np.sort(self.rng.choice(self.produced, size=min(n, self.produced), replace=False))
        return self._record(self._table(payload, self._fresh(len(payload))))

    def keys(self) -> np.ndarray:
        """Sorted (partition, offset) keys of every row produced so far,
        packed as in `checks.sink_keys`."""
        return np.sort(np.concatenate(self._keys))

    def _record(self, t: pa.Table) -> pa.Table:
        self._keys.append(
            t["kafka_partition"].to_numpy() << 48 | t["kafka_offset"].to_numpy()
        )
        return t

    def samples(self, k: int = 20) -> list[bytes]:
        """Payload bytes for the collector's format sniffing."""
        idx = np.arange(k)
        return [v.as_py() for v in self._table(idx, idx)["value"]]

    def _fresh(self, n: int) -> np.ndarray:
        idx = np.arange(self.produced, self.produced + n)
        self.produced += n
        return idx

    def _table(self, payload_idx: np.ndarray, offset_idx: np.ndarray) -> pa.Table:
        src = self.src
        i = payload_idx % src.n
        users = src.user_id[i]
        # a pure function of the payload index, so a re-sent row carries
        # the very payload it had the first time
        amount = np.round(src.value[i] + (payload_idx * 2654435761 + self.noise) % 100 / 100.0, 2)
        payloads = [
            {
                "event_type": et,
                "source": "perfbench",
                "data": {
                    "symbol": f"SYM{int(u) % 50}",
                    "sec_type": "STK",
                    "user_id": int(u),
                    "amount": float(a),
                    "seq": int(k),
                },
                "metadata": {"exchange": "NASDAQ" if u % 2 else "CBOE"},
            }
            for et, u, a, k in zip(src.event_type[i], users, amount, payload_idx)
        ]
        if self.fmt == "msgpack":
            values = [msgpack_bytes(p) for p in payloads]
        else:
            values = [json.dumps(p, separators=(",", ":")).encode() for p in payloads]
        return pa.table(
            {
                "kafka_topic": pa.array([self.topic] * len(i), pa.string()),
                "kafka_partition": pa.array((users + self.salt) % PARTITIONS, pa.int64()),
                "kafka_offset": pa.array(self.base + offset_idx, pa.int64()),
                "kafka_timestamp": pa.array(src.ts_ms[i], pa.int64()),
                "kafka_key": pa.array([f"u{int(u)}" for u in users], pa.string()),
                "value": pa.array(values, pa.binary()),
            },
            schema=_SCHEMA,
        )


def write_spool_file(table: pa.Table, topic_dir: str, name: str) -> str:
    """Write one spool file atomically: a file-stream source must never
    list a half-written Parquet file."""
    os.makedirs(topic_dir, exist_ok=True)
    tmp = os.path.join(topic_dir, f".{name}.tmp")
    pq.write_table(table, tmp, compression="none")
    final = os.path.join(topic_dir, f"{name}.parquet")
    os.replace(tmp, final)
    return final
