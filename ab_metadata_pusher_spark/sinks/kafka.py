"""Kafka publisher — the reference's declared roadmap destination
(README.md:54, SURVEY.md §2.E E6), built on Spark's native kafka sink so
SQS and Kafka are pluggable peers.

Two publish paths:

* ``write_envelopes`` targets the official ``spark-sql-kafka`` sink
  (``df.write.format("kafka")``) — the production path once the package
  is on the classpath; the container has neither the package nor a
  broker, so it only ``save()``s when asked.
* ``publish_wire`` (r10) speaks the PUBLIC Kafka wire protocol itself —
  Metadata v0 for partition discovery, Produce v3 carrying message-
  format-v2 record batches (CRC32C-checksummed, varint-encoded
  records), murmur2 key partitioning matching the default Java
  producer — over a plain TCP socket from ``foreachPartition``, pure
  stdlib.  This is the same live-protocol discipline as the SQS
  HTTP endpoint, the statsd UDP listener, and the BigQuery REST/Storage
  emulators: tests/test_sinks.py runs a local broker emulator that
  decodes the frames, verifies the batch CRC, and acks.  The per-byte
  Python encoding is NOT the 100 TB hot path (the official sink's JVM
  producer is); it exists so the protocol contract is executable and
  tested in-sandbox.

``build_kafka_rows`` (the value-assembly plan) is shared by both and
fully testable offline.
"""

from __future__ import annotations

import io
import socket
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["build_kafka_rows", "write_envelopes", "publish_wire"]


def build_kafka_rows(nodes: DataFrame, relations: DataFrame,
                     tag: str) -> DataFrame:
    """(key, value) rows for the kafka sink: key = record key (node key /
    relation start-end), value = one JSON record stamped with kind + tag.

    Unlike SQS's 256 KiB envelopes, Kafka carries one record per message —
    the broker batches; no driver-side packing needed at any scale.
    """
    node_rows = nodes.select(
        F.col("key").alias("key"),
        F.to_json(F.struct(
            F.lit("node").alias("kind"), F.lit(tag).alias("tag"),
            *[F.col(c) for c in nodes.columns])).alias("value"))
    rel_rows = relations.select(
        F.concat_ws("->", "start_key", "end_key").alias("key"),
        F.to_json(F.struct(
            F.lit("relation").alias("kind"), F.lit(tag).alias("tag"),
            *[F.col(c) for c in relations.columns])).alias("value"))
    return node_rows.unionByName(rel_rows)


def write_envelopes(nodes: DataFrame, relations: DataFrame, tag: str,
                    bootstrap_servers: str, topic: str,
                    execute: bool = True) -> DataFrame:
    """Publish node/relation records to a Kafka topic.

    With ``execute=False`` returns the configured rows without sending
    (used by tests; also useful for dry-run plan inspection)."""
    rows = build_kafka_rows(nodes, relations, tag)
    if execute:  # pragma: no cover - needs a broker + kafka package
        (rows.write.format("kafka")
         .option("kafka.bootstrap.servers", bootstrap_servers)
         .option("topic", topic)
         .save())
    return rows


# ---------------------------------------------------------------------------
# Kafka wire protocol, pure stdlib (publicly documented at
# kafka.apache.org/protocol) — enough of it to PRODUCE: Metadata v0 +
# Produce v3 with message-format-v2 record batches.
# ---------------------------------------------------------------------------

def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the checksum
    message-format-v2 batches carry; not in the stdlib (zlib.crc32 is
    the IEEE polynomial)."""
    table = _crc32c_table()
    crc = 0xFFFFFFFF
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


_CRC32C_TABLE: list[int] = []


def _crc32c_table() -> list[int]:
    if not _CRC32C_TABLE:
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            _CRC32C_TABLE.append(c)
    return _CRC32C_TABLE


def _murmur2(data: bytes) -> int:
    """Kafka's murmur2 (seed 0x9747b28c) — the DEFAULT Java producer's
    key hash, so records partition identically to clients that will
    later share the topic."""
    length = len(data)
    seed = 0x9747B28C
    m = 0x5BD1E995
    mask = 0xFFFFFFFF
    h = (seed ^ length) & mask
    n4 = length & ~3
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * m) & mask
        k ^= k >> 24
        k = (k * m) & mask
        h = (h * m) & mask
        h ^= k
    rem = length & 3
    if rem == 3:
        h ^= (data[n4 + 2] & 0xFF) << 16
    if rem >= 2:
        h ^= (data[n4 + 1] & 0xFF) << 8
    if rem >= 1:
        h ^= data[n4] & 0xFF
        h = (h * m) & mask
    h ^= h >> 13
    h = (h * m) & mask
    h ^= h >> 15
    return h


def partition_for_key(key: bytes, n_partitions: int) -> int:
    """DefaultPartitioner placement: toPositive(murmur2(key)) % n."""
    return (_murmur2(key) & 0x7FFFFFFF) % n_partitions


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _varint(n: int) -> bytes:
    """Signed zigzag varint (the v2 record encoding)."""
    u = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(buf: io.BytesIO) -> int:
    shift = u = 0
    while True:
        b = buf.read(1)[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1)  # un-zigzag


def _string(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    raw = s.encode()
    return struct.pack(">h", len(raw)) + raw


def encode_record_batch(records: list[tuple[bytes | None, bytes]],
                        base_timestamp_ms: int = 0) -> bytes:
    """One message-format-v2 RecordBatch (magic=2, uncompressed):
    varint-framed records, CRC-32C over everything after the crc field,
    producer fields = -1 (idempotence off)."""
    recs = bytearray()
    for delta, (key, value) in enumerate(records):
        body = bytearray()
        body += b"\x00"                       # record attributes
        body += _varint(0)                    # timestampDelta
        body += _varint(delta)                # offsetDelta
        if key is None:
            body += _varint(-1)
        else:
            body += _varint(len(key)) + key
        body += _varint(len(value)) + value
        body += _varint(0)                    # headers
        recs += _varint(len(body)) + body
    after_crc = (
        struct.pack(">hiqqqhii",
                    0,                         # attributes
                    len(records) - 1,          # lastOffsetDelta
                    base_timestamp_ms, base_timestamp_ms,
                    -1, -1, -1,                # producerId/Epoch/baseSeq
                    len(records))
        + bytes(recs))
    crc = _crc32c(after_crc)
    tail = struct.pack(">bI", 2, crc) + after_crc   # magic, crc
    # batchLength counts from partitionLeaderEpoch == everything after
    # the (baseOffset, batchLength) pair
    return (struct.pack(">qi", 0, len(tail) + 4)
            + struct.pack(">i", -1)            # partitionLeaderEpoch
            + tail)


def _frame(api_key: int, api_version: int, correlation_id: int,
           client_id: str, body: bytes) -> bytes:
    payload = (struct.pack(">hhi", api_key, api_version, correlation_id)
               + _string(client_id) + body)
    return struct.pack(">i", len(payload)) + payload


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    chunks = bytearray()
    while len(chunks) < n:
        part = sock.recv(n - len(chunks))
        if not part:
            raise ConnectionError("kafka broker closed the connection")
        chunks += part
    return bytes(chunks)


def _roundtrip(sock: socket.socket, frame: bytes) -> io.BytesIO:
    sock.sendall(frame)
    (size,) = struct.unpack(">i", _recv_exact(sock, 4))
    resp = io.BytesIO(_recv_exact(sock, size))
    resp.read(4)  # correlation id (single in-flight request per socket)
    return resp


def fetch_partition_count(bootstrap: str, topic: str,
                          timeout_sec: float = 10.0,
                          client_id: str = "ab-metadata-pusher") -> int:
    """Metadata v0 round trip: how many partitions does ``topic`` have.
    Driver-side, once per publish — O(1) state shipped to executors."""
    host, port = bootstrap.rsplit(":", 1)
    body = struct.pack(">i", 1) + _string(topic)
    with socket.create_connection((host, int(port)),
                                  timeout=timeout_sec) as sock:
        resp = _roundtrip(sock, _frame(3, 0, 1, client_id, body))
        (n_brokers,) = struct.unpack(">i", resp.read(4))
        for _ in range(n_brokers):
            resp.read(4)
            (hlen,) = struct.unpack(">h", resp.read(2))
            resp.read(hlen + 4)
        (n_topics,) = struct.unpack(">i", resp.read(4))
        for _ in range(n_topics):
            (err,) = struct.unpack(">h", resp.read(2))
            (tlen,) = struct.unpack(">h", resp.read(2))
            name = resp.read(tlen).decode()
            (n_parts,) = struct.unpack(">i", resp.read(4))
            if name == topic:
                if err:
                    raise RuntimeError(f"metadata error {err} for {topic}")
                return n_parts
            for _ in range(n_parts):   # skip partition metadata
                resp.read(2 + 4 + 4)
                (n_rep,) = struct.unpack(">i", resp.read(4))
                resp.read(4 * n_rep)
                (n_isr,) = struct.unpack(">i", resp.read(4))
                resp.read(4 * n_isr)
    raise RuntimeError(f"topic {topic!r} missing from metadata response")


def _produce(sock: socket.socket, topic: str, partition: int,
             batch: bytes, correlation_id: int, acks: int = -1,
             timeout_ms: int = 30_000,
             client_id: str = "ab-metadata-pusher") -> None:
    body = (_string(None)                      # transactional_id
            + struct.pack(">hi", acks, timeout_ms)
            + struct.pack(">i", 1) + _string(topic)
            + struct.pack(">i", 1)
            + struct.pack(">i", partition)
            + struct.pack(">i", len(batch)) + batch)
    resp = _roundtrip(sock, _frame(0, 3, correlation_id, client_id, body))
    (n_topics,) = struct.unpack(">i", resp.read(4))
    for _ in range(n_topics):
        (tlen,) = struct.unpack(">h", resp.read(2))
        resp.read(tlen)
        (n_parts,) = struct.unpack(">i", resp.read(4))
        for _ in range(n_parts):
            part, err = struct.unpack(">ih", resp.read(6))
            resp.read(16)  # base_offset + log_append_time
            if err:
                raise RuntimeError(
                    f"kafka produce error {err} on partition {part}")


def publish_wire(rows: DataFrame, bootstrap_servers: str, topic: str,
                 batch_max_records: int = 500, acks: int = -1,
                 timeout_sec: float = 30.0) -> int:
    """Publish (key, value) rows over the raw Kafka wire protocol from
    ``foreachPartition`` — no broker client library, no connector jar.

    Placement matches the default Java producer (murmur2 key hash mod
    the Metadata-reported partition count), batches are real v2 record
    batches (CRC-32C verified broker-side), and every partition task
    holds ONE socket with bounded ``batch_max_records`` frames — state
    per executor is O(batch), so the path distributes like the SQS
    ``publish_distributed`` sink.  Returns the number of rows sent,
    summed by an accumulator in the send tasks (no second job over
    ``rows``), which callers use for the statsd success metric."""
    n_partitions = fetch_partition_count(bootstrap_servers, topic,
                                         timeout_sec=timeout_sec)
    host, port = bootstrap_servers.rsplit(":", 1)
    _host, _port, _topic = host, int(port), topic
    _max, _acks, _timeout = batch_max_records, acks, timeout_sec
    sent = rows.sparkSession.sparkContext.accumulator(0)

    def send_partition(it) -> None:
        groups: dict[int, list[tuple[bytes | None, bytes]]] = {}
        sock = None
        cid = 0

        def flush(part: int) -> None:
            nonlocal sock, cid
            if not groups.get(part):
                return
            if sock is None:
                sock = socket.create_connection((_host, _port),
                                                timeout=_timeout)
            cid += 1
            _produce(sock, _topic, part,
                     encode_record_batch(groups[part]), cid, acks=_acks,
                     timeout_ms=int(_timeout * 1000))
            groups[part] = []

        n = 0
        try:
            for row in it:
                n += 1
                key = None if row["key"] is None else row["key"].encode()
                value = row["value"].encode()
                part = (partition_for_key(key, n_partitions)
                        if key is not None else 0)
                groups.setdefault(part, []).append((key, value))
                if len(groups[part]) >= _max:
                    flush(part)
            for part in list(groups):
                flush(part)
            sent.add(n)
        finally:
            if sock is not None:
                sock.close()

    rows.foreachPartition(send_partition)
    return sent.value
