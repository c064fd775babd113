"""SQS publisher: size-enforced, batched, idempotent (SURVEY.md §2.E E3/E4).

The reference's publisher (publisher/aws_sqs_csv_puiblisher.py:99-143)
re-reads staged CSVs with pandas, accumulates every record in memory, and
issues ONE ``send_message`` — unbounded memory, unenforced 256 KiB limit,
dead ``JOB_PUBLISH_TAG``.  This sink fixes all three:

* records stream through :mod:`ab_metadata_pusher_spark.sinks.envelope`
  greedy packing — every message provably <= 256 KiB;
* messages go out via ``SendMessageBatch``, each call closed at 10
  entries or before its summed bodies would pass 256 KiB, whichever
  comes first (the API's two batch caps);
* every envelope carries ``tag`` (the publish tag, implemented for real)
  and a content-hash ``MessageDeduplicationId`` so FIFO re-publishes are
  idempotent.

Two execution modes, one envelope packer (sinks/envelope.py ``_pack``)
behind two encoders:

* ``publish_collected`` — driver-side, for metadata-sized outputs
  (reference parity: the whole graph of a database's catalog is small).
  Each frame crosses to the driver as one Arrow collect and its record
  texts are built column-wise by ``pack_tables``: no Row objects, no
  per-record dicts, no per-record ``json.dumps``.  Its columns must be
  string, integral, boolean or floating, the types whose Arrow values
  equal ``Row.asDict``'s and so pack into the same bodies.  Arrow
  strings are UTF-8 and cannot hold the lone surrogate a Python str
  may, so the columnar encoder needs no surrogate escaping;
* ``publish_distributed`` — ``foreachPartition``: each executor packs and
  sends its partition with the row encoder ``pack_envelopes``, so 100 TB
  of records never transit the driver.  Clients are constructed
  per-partition via the injectable factory.

The boto3 client is injected (``client_factory``) — tests use a stub; real
deployments pass ``lambda: boto3.client("sqs")``.
"""

from __future__ import annotations

import hashlib
import logging
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ab_metadata_pusher_spark.sinks.envelope import (
    DEFAULT_MAX_BYTES, SQS_HARD_LIMIT, pack_envelopes, pack_tables,
)

__all__ = ["SqsPublisher", "PublishReport"]

logger = logging.getLogger(__name__)

_BATCH_SIZE = 10  # SQS SendMessageBatch hard cap on entries per call.
# The same API caps a call's summed bodies at SQS_HARD_LIMIT bytes.


@dataclass
class PublishReport:
    messages_sent: int
    batches_sent: int
    bytes_sent: int


#: Column types whose Arrow records equal ``Row.asDict``.  Others do
#: not (a timestamp comes back tz-aware, binary as ``bytes``, a map as a
#: list of pairs) and would change the JSON bodies.
_RECORD_TYPES = (T.StringType, T.ByteType, T.ShortType, T.IntegerType,
                 T.LongType, T.BooleanType, T.FloatType, T.DoubleType)


def _dedup_id(body: str) -> str:
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


class SqsPublisher:
    """Publish node/relation DataFrames as chunked JSON envelopes to SQS.

    ``fifo`` controls the FIFO-only parameters (MessageGroupId +
    content-hash MessageDeduplicationId): standard queues REJECT them, so
    the default follows AWS's naming contract (URL ends with ``.fifo``).
    Note the FIFO dedup window is 5 minutes: re-publishing byte-identical
    envelopes under the same tag within it is silently absorbed by SQS —
    that IS the idempotency feature, but a re-publish meant to re-deliver
    must use a fresh ``tag`` (the tag rides inside the body, changing the
    hash).
    """

    def __init__(self, queue_url: str,
                 client_factory: Callable[[], Any],
                 message_group_id: str = "metadata",
                 max_bytes: int = DEFAULT_MAX_BYTES,
                 fifo: bool | None = None) -> None:
        self.queue_url = queue_url
        self.client_factory = client_factory
        self.message_group_id = message_group_id
        self.max_bytes = max_bytes
        self.fifo = queue_url.endswith(".fifo") if fifo is None else fifo

    # -- core send path ----------------------------------------------------

    def send_bodies(self, client: Any, bodies: Iterable[str]) -> PublishReport:
        sent = batches = nbytes = batch_bytes = 0
        entries: list[dict[str, Any]] = []

        def flush() -> None:
            nonlocal batches, batch_bytes
            if not entries:
                return
            resp = client.send_message_batch(
                QueueUrl=self.queue_url, Entries=list(entries))
            failed = resp.get("Failed") or []
            if failed:
                raise RuntimeError(f"SQS batch send failed for "
                                   f"{len(failed)} entries: {failed[:3]}")
            batches += 1
            batch_bytes = 0
            entries.clear()

        for body in bodies:
            size = len(body.encode("utf-8"))
            if batch_bytes + size > SQS_HARD_LIMIT:
                flush()
            entry: dict[str, Any] = {
                "Id": str(len(entries)),
                "MessageBody": body,
            }
            if self.fifo:
                entry["MessageGroupId"] = self.message_group_id
                entry["MessageDeduplicationId"] = _dedup_id(body)
            entries.append(entry)
            sent += 1
            nbytes += size
            batch_bytes += size
            if len(entries) == _BATCH_SIZE:
                flush()
        flush()
        return PublishReport(sent, batches, nbytes)

    # -- driver-side (metadata-sized) -------------------------------------

    def publish_collected(self, nodes: DataFrame, relations: DataFrame,
                          tag: str) -> PublishReport:
        """Collect + pack + send from the driver.  Correct choice when the
        output is metadata-sized (the reference's regime); raises early if
        a single record exceeds the envelope budget.

        Each frame is collected once as Arrow and packed by
        ``pack_tables``, so both frames may hold only string, integral,
        boolean and floating columns (a graph frame does); any other
        column type raises ``TypeError`` before anything is collected or
        sent.  The bodies are those of ``pack_envelopes`` over the frames'
        ``Row.asDict`` records."""
        for frame in (nodes, relations):
            for field in frame.schema:
                if not isinstance(field.dataType, _RECORD_TYPES):
                    raise TypeError(
                        f"publish_collected: column {field.name!r} has "
                        f"type {field.dataType.simpleString()}; only "
                        "string, integral, boolean and floating columns "
                        "keep Row.asDict's records")
        bodies = pack_tables(nodes.toArrow(), relations.toArrow(), tag,
                             self.max_bytes)
        report = self.send_bodies(self.client_factory(), bodies)
        logger.info("published %d messages in %d batches (%d bytes) tag=%s",
                    report.messages_sent, report.batches_sent,
                    report.bytes_sent, tag)
        return report

    # -- executor-side (scale) --------------------------------------------

    def publish_distributed(self, nodes: DataFrame, relations: DataFrame,
                            tag: str) -> None:
        """foreachPartition send: each executor packs its own partition into
        envelopes and sends them.  Chunk indices are per-partition (chunk
        ids are only unique within (tag, partition)); global ordering is
        not promised — consumers key on (tag, dedup id)."""
        queue_url = self.queue_url
        group_id = self.message_group_id
        max_bytes = self.max_bytes
        factory = self.client_factory
        fifo = self.fifo

        def send_partition(kind: str):
            def _send(rows) -> None:
                recs = (r.asDict(recursive=True) for r in rows)
                if kind == "nodes":
                    bodies = pack_envelopes(recs, [], tag, max_bytes)
                else:
                    bodies = pack_envelopes([], recs, tag, max_bytes)
                pub = SqsPublisher(queue_url, factory, group_id,
                                   max_bytes, fifo=fifo)
                pub.send_bodies(factory(), bodies)
            return _send

        nodes.foreachPartition(send_partition("nodes"))
        relations.foreachPartition(send_partition("relations"))
