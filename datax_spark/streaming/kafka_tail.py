"""Kafka changelog tail → replay-engine epoch spool (binlog-tail analog).

The north-star architecture (SURVEY.md §0, otsstreamreader →
OTSStreamReaderSlaveProxy shard tail): a CDC source is a log you
drain in bounded rounds, checkpointing position so a crashed tailer
resumes without loss or replay. Kafka is the standard public
transport for exactly that log (Debezium/Canal publish binlog rows as
JSON events on a topic), so this module closes the loop: the wire
transport (`sources/kafka.py`) drains the topic, each round becomes
one `events_root/epoch=N` parquet spool — the format the replay
engine already applies exactly-once — and the kafka offset range
rides the spool directory itself.

Crash story (two-phase, mirroring the engine's own commit):

1. a round snapshots [checkpoint, latest) per partition, reads it
   executor-parallel (one task per partition), and writes parquet
   under ``epoch=N__tmp`` including an ``_offsets.json`` sidecar;
2. an atomic rename publishes ``epoch=N``.

Torn spool (crash before rename): only ``__tmp`` remains — deleted
and redone on resume; the checkpoint never moved. Spooled-but-not-
applied (crash after rename, before the engine's epoch commit): the
engine's watermark gate applies it on the next run; the tailer
resumes from the offsets recorded in the published spool. Both sides
idempotent ⇒ exactly-once end to end.

Schema: event values are JSON objects. Columns are discovered from a
bounded head/tail probe per partition (first + last message of the
round) — sound under the engine's ADDITIVE evolution contract (a
column that appears never disappears, so the round's tail carries the
round's widest schema). ``long_cols`` (default: the LSN) parse as
int64, everything else as nullable string, matching the fixture
changelog's event shape.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession

from datax_spark.engine.replay import discover_epochs
from datax_spark.sources.kafka import EARLIEST, LATEST, KafkaConnection
from datax_spark.sources.readers import task_frame

_OFFSETS_FILE = "_offsets.json"

# debezium op -> engine op (kept in sync with sources/debezium.py;
# duplicated as a literal so the executor closure stays self-contained)
_DBZ_OPS = {"c": "I", "r": "I", "u": "U", "d": "D"}


def _flatten_value(obj: dict, value_format: str) -> dict | None:
    """One decoded JSON value -> a flat event dict, or None to drop.

    flat: the value IS the event. debezium: unwrap the optional
    Connect ``payload``, pick the row image by op (before for d,
    after otherwise — a binlog delete carries only the old image),
    map the op to the engine's I/U/D; values without a known op
    (tombstones decoded as {}, heartbeats) drop."""
    if value_format == "flat":
        return obj
    env = obj.get("payload", obj)
    if not isinstance(env, dict):
        return None
    o = env.get("op")
    if o not in _DBZ_OPS:
        return None
    img = (env.get("before") if o == "d" else env.get("after")) or {}
    row = dict(img)
    row["op"] = _DBZ_OPS[o]
    return row


class KafkaTail:
    """Bounded-round tailer: topic → epoch spools under events_root."""

    def __init__(self, spark: SparkSession, events_root: str, *,
                 bootstrap_servers: str, topic: str,
                 long_cols: tuple[str, ...] = ("lsn",),
                 fetch_max_bytes: int = 1 << 20,
                 value_format: str = "flat",
                 message_format: str = "v1"):
        if value_format not in ("flat", "debezium"):
            raise ValueError(
                f"value_format must be 'flat' or 'debezium', got {value_format!r}"
            )
        self.spark = spark
        self.events_root = events_root
        self.topic = topic
        self.long_cols = tuple(long_cols)
        self.fetch_max_bytes = fetch_max_bytes
        # "v1" = Fetch v2 / magic-1 sets; "v2" = Fetch v4 / KIP-98
        # record batches (post-2017 brokers, Kafka 4.0's minimum)
        self.message_format = message_format
        # "flat": each value is already an engine event object.
        # "debezium": each value is the Kafka-Connect CDC envelope
        # ({before, after, source, op}, optionally payload-wrapped) —
        # the tail flattens it with the same op/image rules as
        # sources/debezium.normalize_debezium, so a real connector's
        # topic tails straight into the engine. Tombstones and
        # heartbeat-ish values without an op drop out.
        self.value_format = value_format
        host, _, port = bootstrap_servers.split(",")[0].strip().partition(":")
        self.host, self.port = host, int(port or 9092)

    # ---------------- checkpoint = offsets of the last published spool

    def checkpoint(self) -> tuple[int, dict[int, int]]:
        """-> (next_epoch, {partition: next_offset}); empty dict means
        'start from earliest'."""
        epochs = discover_epochs(self.events_root)
        if not epochs:
            return 0, {}
        last = epochs[-1]
        path = os.path.join(self.events_root, f"epoch={last}", _OFFSETS_FILE)
        with open(path) as f:
            rec = json.load(f)
        return last + 1, {int(k): v["end"] for k, v in rec["partitions"].items()}

    # ---------------- one bounded round

    def spool_epoch(self) -> int | None:
        """Drain [checkpoint, latest) into epoch=N; None if no new data."""
        epoch, ckpt = self.checkpoint()
        # torn spool from a crashed round: redo it (checkpoint did not move)
        tmp = os.path.join(self.events_root, f"epoch={epoch}__tmp")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

        conn = KafkaConnection(self.host, self.port)
        try:
            brokers, parts = conn.metadata([self.topic])
            ranges = []  # (partition, host, port, start, end)
            for pid, leader in sorted(parts[self.topic].items()):
                start = ckpt.get(
                    pid, conn.list_offset(self.topic, pid, EARLIEST)
                )
                end = conn.list_offset(self.topic, pid, LATEST)
                lhost, lport = brokers[leader]
                ranges.append((pid, lhost, lport, start, end))
            if all(start >= end for _, _, _, start, end in ranges):
                return None
            columns = self._probe_columns(conn, ranges)
        finally:
            conn.close()

        schema = ", ".join(
            f"`{c}` {'long' if c in self.long_cols else 'string'}"
            for c in columns
        )
        tasks_df = task_frame(
            self.spark,
            [(p, h, prt, s, e) for p, h, prt, s, e in ranges],
            "partition int, host string, port int, start long, end long",
        )
        topic = self.topic
        long_cols = set(self.long_cols)
        max_bytes = self.fetch_max_bytes
        value_format = self.value_format
        fmt = self.message_format

        def scan(batches):
            import pandas as pd

            for pdf in batches:
                for t in pdf.itertuples(index=False):
                    if t.start >= t.end:
                        continue
                    c = KafkaConnection(t.host, int(t.port))
                    try:
                        rows = []
                        off = int(t.start)
                        while off < t.end:
                            msgs, _hw = c.fetch(topic, int(t.partition), off, fmt=fmt,
                                                max_bytes=max_bytes)
                            if not msgs:
                                raise IOError(f"empty fetch at offset {off}")
                            for moff, _ts, _k, value in msgs:
                                if moff >= t.end:
                                    break
                                if not value:
                                    continue  # compaction tombstone
                                obj = _flatten_value(
                                    json.loads(value.decode("utf-8")),
                                    value_format,
                                )
                                if obj is None:
                                    continue
                                rows.append([obj.get(col) for col in columns])
                            off = msgs[-1][0] + 1
                    finally:
                        c.close()
                    if rows:
                        out = pd.DataFrame(rows, columns=list(columns))
                        for col in columns:
                            if col in long_cols:
                                out[col] = out[col].astype("int64")
                            else:
                                out[col] = out[col].astype("object").where(
                                    out[col].notna(), None
                                ).map(
                                    lambda v: v if v is None else str(v)
                                )
                        yield out

        os.makedirs(self.events_root, exist_ok=True)
        (
            tasks_df.mapInPandas(scan, schema=schema)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        with open(os.path.join(tmp, _OFFSETS_FILE), "w") as f:
            json.dump(
                {
                    "topic": self.topic,
                    "partitions": {
                        str(p): {"start": s, "end": e}
                        for p, _, _, s, e in ranges
                    },
                },
                f,
            )
        os.rename(tmp, os.path.join(self.events_root, f"epoch={epoch}"))
        return epoch

    def _probe_columns(self, conn: KafkaConnection, ranges) -> list[str]:
        """Union of keys from each partition's round head + tail.

        Exact under additive evolution: the newest message in the
        round carries the widest schema this round can contain.
        Column order: first-seen (stable across rounds for a stable
        producer), so the spool schema only ever appends.
        """
        cols: list[str] = []
        for pid, _h, _p, start, end in ranges:
            if start >= end:
                continue
            for probe_off in {start, end - 1}:
                msgs, _ = conn.fetch(self.topic, pid, probe_off, fmt=self.message_format,
                                     max_bytes=self.fetch_max_bytes)
                if not msgs:
                    raise IOError(f"probe fetch at {probe_off} was empty")
                value = msgs[0][3]
                if not value:
                    continue  # tombstone at the probe offset
                obj = _flatten_value(
                    json.loads(value.decode("utf-8")), self.value_format
                )
                if obj is None:
                    continue
                for k in obj:
                    if k not in cols:
                        cols.append(k)
        if not cols:
            raise IOError(
                "no decodable event in the round's head/tail probes"
            )
        return cols

    # ---------------- tail + apply loop

    def run(self, engine, max_rounds: int | None = None) -> list[int]:
        """Spool and apply until the topic is drained (or max_rounds).

        ``engine`` is a ReplayEngine over the same events_root; its
        watermark gate makes re-applying published spools a no-op, so
        a crash anywhere in this loop is recoverable by calling run()
        again.
        """
        applied: list[int] = []
        rounds = 0
        while max_rounds is None or rounds < max_rounds:
            epoch = self.spool_epoch()
            if epoch is None:
                break
            engine.run()
            applied.append(epoch)
            rounds += 1
        return applied
